"""Pure-stdlib image codecs: decoded-pixel statistics without Pillow.

The container has no Pillow/libvips/ffmpeg, but PNG needs only ``zlib``
(stdlib) plus the five RFC-2083 scanline filters, and uncompressed BMP /
GIF headers need only ``struct``.  This module goes past header-sniffing
to REAL decoded-pixel statistics
(reference analog: the brightness/contrast probe of the OCR preprocessing
family, /root/reference/ocrfw/preprocessing.py:48-53) with no new
dependency.

Decoders:
- PNG: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
  6 (RGBA), non-interlaced; full IDAT inflate + unfiltering (None/Sub/
  Up/Average/Paeth).
- BMP: BITMAPINFOHEADER, 24 bpp, BI_RGB (uncompressed), bottom-up rows.
- GIF: GIF87a/GIF89a single-frame FULL decode — logical-screen header,
  global/local palette, LZW image data (LSB-first codes, CLEAR/END,
  12-bit dictionary growth) -> RGB pixels.
- JPEG: baseline sequential DCT (ITU T.81), 8-bit, gray + YCbCr at any
  sampling up to 4x4 (4:4:4/4:2:2/4:2:0 covered), restart markers, byte
  stuffing; pure Python Huffman + numpy IDCT.  Progressive/arithmetic/
  12-bit streams raise ValueError (the explicit library seam).
- Header-only ``sniff_image_meta``: the above plus WebP (VP8/VP8L/VP8X).

Statistics use INTEGER luma accumulation (luma1000 = 299R + 587G + 114B,
or 1000V for gray) so the sums are exact in any engine's 64-bit integers
— the DuckDB oracle replays brightness/contrast bit-for-bit from the
synthetic pixel pattern without ever decoding a PNG.

``encode_png`` is the deterministic fixture source: it can emit every
filter type (row index mod 5) so decode exercises all five predictors.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: PNG color type -> channel count (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

#: decoded-buffer ceiling (bytes): headers are UNTRUSTED, and a 54-byte
#: payload advertising 2^31 x 2^31 dims (or a zlib bomb) must fail as a
#: contained ValueError, never as a near-2^63 allocation / MemoryError
#: that defeats per-row containment.  256 MB ~ a 9000x9000 RGBA frame —
#: far above anything a crawl-pipeline thumbnail stage should decode.
MAX_DECODED_BYTES = 1 << 28


def _check_decoded_size(width: int, height: int, channels: int) -> None:
    if width <= 0 or height <= 0 or width * height * channels > MAX_DECODED_BYTES:
        raise ValueError(
            f"refusing image of {width}x{height}x{channels} "
            f"(> {MAX_DECODED_BYTES} decoded bytes or non-positive dims)"
        )


# --------------------------------------------------------------------------
# PNG encode (fixture source)
# --------------------------------------------------------------------------


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_row(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to a raw scanline (encoder side)."""
    n = len(row)
    out = bytearray(n)
    for i in range(n):
        x = row[i]
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            v = x
        elif ftype == 1:
            v = x - a
        elif ftype == 2:
            v = x - b
        elif ftype == 3:
            v = x - (a + b) // 2
        elif ftype == 4:
            v = x - _paeth(a, b, c)
        else:
            raise ValueError(f"bad filter {ftype}")
        out[i] = v & 0xFF
    return bytes(out)


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 2,
    filter_choice=lambda y: 0,
    depth: int = 8,
    interlace: int = 0,
    palette: bytes | None = None,
    trns: bytes | None = None,
) -> bytes:
    """Encode pixels as a valid PNG (fixture source for every decoder
    path).  ``pixels`` is 8-bit row-major samples — for ``depth=16`` each
    sample is widened to ``v*257`` (decode keeps the high byte, so the
    round-trip is exact); for sub-byte grayscale the 8-bit values must be
    exact multiples of ``255/(2^depth-1)``; for ``color_type=3`` they are
    palette indices and ``palette`` (RGB triples) is required.
    ``filter_choice(y)`` picks the filter per scanline — fixtures use
    ``y % 5`` so a decoder must invert all five predictors.
    ``interlace=1`` writes Adam7 passes, each filtered independently."""
    if color_type not in _PNG_RAW_CHANNELS or depth not in _PNG_LEGAL_DEPTHS[color_type]:
        raise ValueError(f"invalid PNG encode combo (type={color_type} depth={depth})")
    ch = _PNG_RAW_CHANNELS[color_type]
    # ValueError (not assert): asserts strip under `python -O`, which would
    # let a mismatched buffer silently encode a corrupt PNG — fail fast
    # with the same error contract as the decoders (ADVICE r4)
    if len(pixels) != width * height * ch:
        raise ValueError(
            f"pixel buffer {len(pixels)} bytes does not match "
            f"{width}x{height}x{ch} dims"
        )
    if color_type == 3:
        if palette is None or len(palette) % 3 or not palette:
            raise ValueError("palette PNG encode needs RGB palette triples")
        n_pal = len(palette) // 3
        if any(p >= n_pal or p >= (1 << depth) for p in pixels):
            raise ValueError("palette index out of range for depth/palette")
    bpp = max(1, ch * depth // 8)

    def pack_row(samples: bytes, pw: int) -> bytes:
        if depth == 8:
            return samples
        if depth == 16:
            out = bytearray()
            for v in samples:
                out += bytes((v, v))  # v*257: high byte == v, exact round-trip
            return bytes(out)
        scale = 255 // ((1 << depth) - 1) if color_type == 0 else 1
        per_byte = 8 // depth
        out = bytearray((pw + per_byte - 1) // per_byte)
        for x, v in enumerate(samples):
            idx = v // scale if scale > 1 else v
            if idx << (8 - depth) >> (8 - depth) != idx or (
                scale > 1 and idx * scale != v
            ):
                raise ValueError("sample not representable at this bit depth")
            shift = 8 - depth * (1 + x % per_byte)
            out[x // per_byte] |= idx << shift
        return bytes(out)

    passes = (
        [(0, 0, 1, 1, width, height)]
        if interlace == 0
        else [
            (x0, y0, dx, dy, -(-(width - x0) // dx), -(-(height - y0) // dy))
            for x0, y0, dx, dy in _ADAM7
        ]
    )
    raw = bytearray()
    fy = 0
    for x0, y0, dx, dy, pw, ph in passes:
        if not pw or not ph:
            continue
        prev = bytes(((pw * ch * depth) + 7) // 8)
        for ry in range(ph):
            y = y0 + ry * dy
            srow = bytearray()
            for rx in range(pw):
                i = (y * width + x0 + rx * dx) * ch
                srow += pixels[i : i + ch]
            row = pack_row(bytes(srow), pw)
            f = filter_choice(fy)
            fy += 1
            raw.append(f)
            raw += _filter_row(f, row, prev, bpp)
            prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, interlace)
    out = PNG_SIG + _chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += _chunk(b"PLTE", palette)
        if trns is not None:
            out += _chunk(b"tRNS", trns)
    out += _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")
    return out


# --------------------------------------------------------------------------
# PNG decode
# --------------------------------------------------------------------------


def _unfilter_row(ftype: int, row: bytearray, prev: bytes, bpp: int) -> None:
    """Invert PNG filter ``ftype`` in place (decoder side)."""
    n = len(row)
    for i in range(n):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            v = row[i]
        elif ftype == 1:
            v = row[i] + a
        elif ftype == 2:
            v = row[i] + b
        elif ftype == 3:
            v = row[i] + (a + b) // 2
        elif ftype == 4:
            v = row[i] + _paeth(a, b, c)
        else:
            raise ValueError(f"bad filter {ftype}")
        row[i] = v & 0xFF


#: Adam7 interlace pass geometry: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)

#: raw channels per color type (3 = palette indices, one channel pre-map)
_PNG_RAW_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: legal bit depths per color type (PNG spec table 11.1)
_PNG_LEGAL_DEPTHS = {
    0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16),
}


def _png_row_samples(row: bytes, width: int, ch_raw: int, depth: int) -> bytes:
    """Unfiltered scanline bytes -> 8-bit samples (width * ch_raw).

    16-bit samples keep the high byte (the standard 8-bit rendering
    intent); sub-byte depths unpack MSB-first.  Palette indices pass
    through raw (scaling happens after the palette map)."""
    if depth == 8:
        return row[: width * ch_raw]
    if depth == 16:
        return row[0 : 2 * width * ch_raw : 2]
    # depth 1/2/4, single channel (types 0 and 3 only per the spec)
    out = bytearray(width)
    mask = (1 << depth) - 1
    per_byte = 8 // depth
    for x in range(width):
        b = row[x // per_byte]
        shift = 8 - depth * (1 + x % per_byte)
        out[x] = (b >> shift) & mask
    return bytes(out)


def decode_png(payload: bytes) -> dict:
    """Full PNG decode -> {format, width, height, channels, pixels}.

    Every legal IHDR combination: bit depths 1/2/4/8/16, color types
    0/2/3/4/6 (palette via PLTE, optional tRNS alpha -> RGBA), Adam7
    interlacing, all five scanline filters.  Output is normalised to
    8-bit samples (16-bit keeps the high byte; sub-byte grayscale scales
    to full range) — the standard rendering intent, stated so the stats
    oracles can replay it."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    color_type = depth = interlace = None
    idat = bytearray()
    plte = None
    trns = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            width, height, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError("PNG palette length not a multiple of 3")
            plte = bytes(body)
        elif tag == b"tRNS":
            trns = bytes(body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    if (
        color_type not in _PNG_RAW_CHANNELS
        or depth not in _PNG_LEGAL_DEPTHS[color_type]
        or interlace not in (0, 1)
    ):
        raise ValueError(
            f"invalid PNG (depth={depth} color_type={color_type} interlace={interlace})"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    ch_raw = _PNG_RAW_CHANNELS[color_type]
    ch_out = (
        (4 if trns is not None else 3) if color_type == 3 else ch_raw
    )
    _check_decoded_size(width, height, ch_out)
    bpp = max(1, ch_raw * depth // 8)  # filter distance in BYTES (spec 9.2)

    def row_bytes(pw: int) -> int:
        return (pw * ch_raw * depth + 7) // 8

    passes = (
        [(0, 0, 1, 1, width, height)]
        if interlace == 0
        else [
            (x0, y0, dx, dy, -(-(width - x0) // dx), -(-(height - y0) // dy))
            for x0, y0, dx, dy in _ADAM7
        ]
    )
    expected = sum(ph * (1 + row_bytes(pw)) for *_ignore, pw, ph in passes if pw and ph)
    # capped inflate: a zlib bomb must not expand past the advertised
    # size before the length check can reject it
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), expected + 1)
    if len(raw) != expected or d.unconsumed_tail or d.decompress(b"", 1):
        raise ValueError("PNG data length mismatch")

    samples = bytearray(width * height * ch_raw)  # normalized 8-bit, pre-palette
    scale = 255 // ((1 << depth) - 1) if depth < 8 and color_type == 0 else 1
    off = 0
    for x0, y0, dx, dy, pw, ph in passes:
        if not pw or not ph:
            continue
        rb = row_bytes(pw)
        prev = bytes(rb)
        for ry in range(ph):
            f = raw[off]
            row = bytearray(raw[off + 1 : off + 1 + rb])
            off += 1 + rb
            _unfilter_row(f, row, prev, bpp)
            prev = bytes(row)
            srow = _png_row_samples(bytes(row), pw, ch_raw, depth)
            y = y0 + ry * dy
            if dx == 1 and x0 == 0:
                samples[(y * width) * ch_raw : (y * width + pw) * ch_raw] = srow
            else:
                for rx in range(pw):
                    i = (y * width + x0 + rx * dx) * ch_raw
                    samples[i : i + ch_raw] = srow[rx * ch_raw : (rx + 1) * ch_raw]
    if scale != 1:
        samples = bytearray(v * scale for v in samples)

    if color_type == 3:
        n_pal = len(plte) // 3
        out = bytearray(width * height * ch_out)
        for i in range(width * height):
            idx = samples[i]
            if idx >= n_pal:
                raise ValueError("PNG palette index out of range")
            j = i * ch_out
            out[j : j + 3] = plte[3 * idx : 3 * idx + 3]
            if ch_out == 4:
                out[j + 3] = trns[idx] if idx < len(trns) else 255
        pixels = bytes(out)
    else:
        pixels = bytes(samples)
    return {
        "format": "png",
        "width": width,
        "height": height,
        "channels": ch_out,
        "pixels": pixels,
    }


# --------------------------------------------------------------------------
# BMP decode (24 bpp uncompressed)
# --------------------------------------------------------------------------


def _bmp_rle_decode(data: bytes, width: int, height: int, four_bit: bool) -> list:
    """BI_RLE8 / BI_RLE4 -> per-row index lists (bottom-up row order, the
    stored order).  Escapes: 0=end-of-line, 1=end-of-bitmap, 2=delta
    (skipped pixels stay index 0, the documented Windows behavior);
    absolute runs pad to a word boundary."""
    rows = [[0] * width for _ in range(height)]
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:  # encoded run
            if four_bit:
                pair = ((val >> 4) & 0x0F, val & 0x0F)
                for k in range(cnt):
                    if x < width and y < height:
                        rows[y][x] = pair[k & 1]
                    x += 1
            else:
                for _ in range(cnt):
                    if x < width and y < height:
                        rows[y][x] = val
                    x += 1
            continue
        if val == 0:  # end of line
            x, y = 0, y + 1
            if y > height:
                raise ValueError("BMP RLE runs past image height")
            continue
        if val == 1:  # end of bitmap
            return rows
        if val == 2:  # delta
            if i + 1 >= n:
                raise ValueError("BMP RLE delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            continue
        # absolute mode: val literal pixels
        if four_bit:
            nbytes = (val + 1) // 2
            nbytes += nbytes & 1  # word padding
            if i + nbytes > n:
                raise ValueError("BMP RLE absolute run truncated")
            for k in range(val):
                b = data[i + k // 2]
                px = (b >> 4) & 0x0F if k % 2 == 0 else b & 0x0F
                if x < width and y < height:
                    rows[y][x] = px
                x += 1
            i += nbytes
        else:
            nbytes = val + (val & 1)
            if i + nbytes > n:
                raise ValueError("BMP RLE absolute run truncated")
            for k in range(val):
                if x < width and y < height:
                    rows[y][x] = data[i + k]
                x += 1
            i += nbytes
    return rows


def _mask_shift_scale(mask: int) -> tuple[int, int]:
    """(shift, max) for a contiguous bitfield mask."""
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    return shift, mask >> shift


def decode_bmp(payload: bytes) -> dict:
    """BITMAPINFOHEADER BMP -> RGB pixel buffer.

    1/4/8-bpp palette (uncompressed + BI_RLE8/BI_RLE4), 16-bpp (555 and
    BI_BITFIELDS), 24-bpp, and 32-bpp (BGRx and BI_BITFIELDS).  BMP
    stores BGR bottom-up with rows padded to 4 bytes; the decoder
    normalises to top-down RGB so stats match PNG semantics (32-bpp
    alpha/padding bytes are dropped, the common renderer behavior)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(payload) < 54:  # file header + BITMAPINFOHEADER
        raise ValueError("BMP header truncated")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    width, height = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    (clr_used,) = struct.unpack("<I", payload[46:50])
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError("BMP non-positive dims")
    _check_decoded_size(width, height, 3)
    out = bytearray(width * height * 3)

    def palette(nbits: int) -> bytes:
        n = clr_used or (1 << nbits)
        if n > 1 << nbits:
            raise ValueError("BMP palette size over bpp capacity")
        pal = payload[14 + hdr_size : 14 + hdr_size + 4 * n]
        if len(pal) < 4 * n:
            raise ValueError("BMP palette truncated")
        return pal

    def put_rgb(x: int, y: int, r: int, g: int, b: int) -> None:
        i = (y * width + x) * 3
        out[i : i + 3] = bytes((r, g, b))

    if bpp in (1, 4, 8) and compression == 0:
        pal = palette(bpp)
        row_size = ((width * bpp + 7) // 8 + 3) & ~3
        if data_off + row_size * height > len(payload):
            raise ValueError("BMP pixel data truncated")
        per_byte = 8 // bpp
        mask = (1 << bpp) - 1
        for y in range(height):
            src_y = y if top_down else height - 1 - y
            row = payload[data_off + src_y * row_size :][:row_size]
            for x in range(width):
                b = row[x // per_byte]
                idx = (b >> (8 - bpp * (1 + x % per_byte))) & mask
                if 4 * idx + 3 > len(pal):
                    raise ValueError("BMP palette index out of range")
                put_rgb(x, y, pal[4 * idx + 2], pal[4 * idx + 1], pal[4 * idx])
    elif (bpp, compression) in ((8, 1), (4, 2)):  # BI_RLE8 / BI_RLE4
        pal = palette(bpp)
        rows = _bmp_rle_decode(
            payload[data_off:], width, height, four_bit=(bpp == 4)
        )
        for y in range(height):
            src_y = y if top_down else height - 1 - y
            for x in range(width):
                idx = rows[src_y][x]
                if 4 * idx + 3 > len(pal):
                    raise ValueError("BMP palette index out of range")
                put_rgb(x, y, pal[4 * idx + 2], pal[4 * idx + 1], pal[4 * idx])
    elif bpp in (16, 32) and compression in (0, 3):
        if compression == 3:
            # masks sit at offset 54 both for BITMAPINFOHEADER (appended)
            # and V4/V5 headers (in-header bV4RedMask field)
            if len(payload) < 66:
                raise ValueError("BMP bitfield masks truncated")
            rm, gm, bm = struct.unpack("<III", payload[54:66])
        elif bpp == 16:
            rm, gm, bm = 0x7C00, 0x03E0, 0x001F  # default 555
        else:
            rm, gm, bm = 0x00FF0000, 0x0000FF00, 0x000000FF
        if not (rm and gm and bm):
            raise ValueError("BMP bitfield masks invalid")
        (rs, rmax), (gs, gmax), (bs, bmax) = map(
            _mask_shift_scale, (rm, gm, bm)
        )
        unit = bpp // 8
        row_size = (width * unit + 3) & ~3
        if data_off + row_size * height > len(payload):
            raise ValueError("BMP pixel data truncated")
        for y in range(height):
            src_y = y if top_down else height - 1 - y
            row = payload[data_off + src_y * row_size :][: width * unit]
            for x in range(width):
                v = int.from_bytes(row[x * unit : (x + 1) * unit], "little")
                put_rgb(
                    x, y,
                    ((v & rm) >> rs) * 255 // rmax,
                    ((v & gm) >> gs) * 255 // gmax,
                    ((v & bm) >> bs) * 255 // bmax,
                )
    elif bpp == 24 and compression == 0:
        row_size = (width * 3 + 3) & ~3
        if data_off + row_size * height > len(payload):
            raise ValueError("BMP pixel data truncated")
        for y in range(height):
            src_y = y if top_down else height - 1 - y
            row = payload[data_off + src_y * row_size : data_off + src_y * row_size + width * 3]
            for x in range(width):
                b, g, r = row[3 * x : 3 * x + 3]
                put_rgb(x, y, r, g, b)
    else:
        raise ValueError(f"unsupported BMP (bpp={bpp} compression={compression})")
    return {
        "format": "bmp",
        "width": width,
        "height": height,
        "channels": 3,
        "pixels": bytes(out),
    }


def _bmp_wrap(width: int, height: int, bpp: int, compression: int,
              palette: bytes, img: bytes, masks: bytes = b"") -> bytes:
    data_off = 14 + 40 + len(masks) + len(palette)
    header = b"BM" + struct.pack("<IHHI", data_off + len(img), 0, 0, data_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, compression, len(img),
        2835, 2835, len(palette) // 4, 0,
    )
    return header + info + masks + palette + img


def encode_bmp_paletted(
    width: int, height: int, indices: bytes, palette: bytes, bpp: int = 8,
    rle: bool = False,
) -> bytes:
    """Paletted BMP fixture source: 1/4/8 bpp uncompressed, or BI_RLE8 /
    BI_RLE4 with a mix of encoded runs and absolute runs (so both RLE
    decoder paths get genuine fixtures).  ``palette``: RGB triples
    (stored as BGRX); ``indices``: top-down row-major."""
    if bpp not in (1, 4, 8):
        raise ValueError("paletted BMP bpp must be 1, 4 or 8")
    if rle and bpp == 1:
        raise ValueError("RLE needs bpp 4 or 8")
    n = len(palette) // 3
    if any(i >= n or i >= (1 << bpp) for i in indices):
        raise ValueError("palette index out of range")
    pal = b"".join(
        bytes((palette[3 * i + 2], palette[3 * i + 1], palette[3 * i], 0))
        for i in range(n)
    )
    img = bytearray()
    if not rle:
        per_byte = 8 // bpp
        row_size = ((width * bpp + 7) // 8 + 3) & ~3
        for y in range(height - 1, -1, -1):  # bottom-up
            row = bytearray(row_size)
            for x in range(width):
                row[x // per_byte] |= indices[y * width + x] << (
                    8 - bpp * (1 + x % per_byte)
                )
            img += row
    else:
        for y in range(height - 1, -1, -1):
            row = indices[y * width : (y + 1) * width]
            x = 0
            while x < width:
                run = 1
                while x + run < width and row[x + run] == row[x] and run < 255:
                    run += 1
                if run >= 3 or bpp == 4:
                    if bpp == 8:
                        img += bytes((run, row[x]))
                    else:  # RLE4 run alternates two nibbles; constant run
                        img += bytes((run, (row[x] << 4) | row[x]))
                    x += run
                    continue
                # absolute mode for short literal stretches (min 3 pixels)
                lit_end = min(width, x + 254)
                stretch = lit_end - x
                if stretch >= 3:
                    img += bytes((0, stretch))
                    chunk = row[x : x + stretch]
                    img += bytes(chunk) + bytes((-stretch) & 1)
                    x += stretch
                else:
                    for k in range(stretch):
                        img += bytes((1, row[x + k]))
                    x += stretch
            img += bytes((0, 0))  # end of line
        img += bytes((0, 1))  # end of bitmap
    return _bmp_wrap(width, height, bpp, (1 if bpp == 8 else 2) if rle else 0,
                     pal, bytes(img))


def encode_bmp32(width: int, height: int, rgb: bytes,
                 bitfields: bool = False) -> bytes:
    """32-bpp BMP fixture: BGRx (BI_RGB) or explicit BI_BITFIELDS."""
    img = bytearray()
    for y in range(height - 1, -1, -1):
        for x in range(width):
            i = (y * width + x) * 3
            r, g, b = rgb[i : i + 3]
            img += bytes((b, g, r, 0))
    masks = struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF) if bitfields else b""
    return _bmp_wrap(width, height, 32, 3 if bitfields else 0, b"", bytes(img), masks)


def encode_bmp16(width: int, height: int, rgb: bytes,
                 fmt: str = "565") -> bytes:
    """16-bpp BI_BITFIELDS BMP fixture (565 or 555 masks).  Samples are
    truncated to the field width; decode scales them back with
    v*255//max, so round-trips are exact only for values on the lattice
    — fixtures use snapped inputs."""
    if fmt == "565":
        rm, gm, bm, rb, gb, bb = 0xF800, 0x07E0, 0x001F, 5, 6, 5
    elif fmt == "555":
        rm, gm, bm, rb, gb, bb = 0x7C00, 0x03E0, 0x001F, 5, 5, 5
    else:
        raise ValueError("fmt must be 565 or 555")
    row_size = (width * 2 + 3) & ~3
    img = bytearray()
    for y in range(height - 1, -1, -1):
        row = bytearray()
        for x in range(width):
            i = (y * width + x) * 3
            r, g, b = rgb[i : i + 3]
            v = (
                ((r >> (8 - rb)) << (gb + bb))
                | ((g >> (8 - gb)) << bb)
                | (b >> (8 - bb))
            )
            row += struct.pack("<H", v)
        row += bytes(row_size - len(row))
        img += row
    masks = struct.pack("<III", rm, gm, bm)
    return _bmp_wrap(width, height, 16, 3, b"", bytes(img), masks)


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bpp BI_RGB BMP from a top-down RGB buffer (fixture source)."""
    row_size = (width * 3 + 3) & ~3
    img = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            i = (y * width + x) * 3
            r, g, b = rgb[i : i + 3]
            row += bytes((b, g, r))
        row += bytes(row_size - len(row))
        img += row
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(img), 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + info + img


# --------------------------------------------------------------------------
# GIF decode (header + full LZW pixel decode)
# --------------------------------------------------------------------------


def decode_gif_header(payload: bytes) -> dict:
    """GIF87a/89a logical-screen descriptor + global palette size (no
    pixel decode — the cheap metadata probe)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    width, height = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    has_gct = bool(packed & 0x80)
    gct_size = 2 ** ((packed & 0x07) + 1) if has_gct else 0
    return {
        "format": "gif",
        "width": width,
        "height": height,
        "channels": 3,
        "pixels": None,
        "palette_size": gct_size,
        "version": payload[3:6].decode("ascii"),
    }


def _lzw_decode(min_code_size: int, data: bytes, max_symbols: int | None = None) -> list[int]:
    """GIF-flavor LZW decode (LSB-first bit packing, CLEAR/END codes,
    code size grows to 12 bits as the dictionary fills).

    ``max_symbols`` bounds the OUTPUT: a crafted stream of n codes can
    legally expand to ~n^2/2 symbols, so callers pass the pixel count
    they actually need and a bomb fails as ValueError, not as an
    unbounded allocation."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    code_size = min_code_size + 1
    table: dict[int, list[int]] = {i: [i] for i in range(clear)}
    next_code = end + 1
    out: list[int] = []
    prev: list[int] | None = None
    pos, total = 0, len(data) * 8
    while True:
        if pos + code_size > total:
            break
        code = 0
        for i in range(code_size):
            if (data[(pos + i) >> 3] >> ((pos + i) & 7)) & 1:
                code |= 1 << i
        pos += code_size
        if code == end:
            break
        if code == clear:
            table = {i: [i] for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if prev is None:
            if code not in table:
                raise ValueError(f"corrupt LZW stream (first code {code} not in table)")
            entry = table[code]
        elif code in table:
            entry = table[code]
            table[next_code] = prev + [entry[0]]
            next_code += 1
        elif code == next_code:
            entry = prev + [prev[0]]
            table[next_code] = entry
            next_code += 1
        else:
            raise ValueError(f"corrupt LZW stream (code {code} > next {next_code})")
        out.extend(entry)
        if max_symbols is not None and len(out) > max_symbols:
            raise ValueError("LZW stream expands past the declared pixel count")
        prev = entry
        if next_code == (1 << code_size) and code_size < 12:
            code_size += 1
    return out


def _gif_deinterlace(ih: int) -> list[int]:
    """Stored-row order -> display-row order for interlaced GIFs: the
    four passes cover rows 0%8, 4%8, 2%4, 1%2."""
    order = (
        list(range(0, ih, 8)) + list(range(4, ih, 8))
        + list(range(2, ih, 4)) + list(range(1, ih, 2))
    )
    return order


def _gif_skip_image(payload: bytes, pos: int) -> int:
    """Skip an image descriptor + optional LCT + data sub-blocks (frame
    counting without decoding)."""
    flags = payload[pos + 9]
    pos += 10
    if flags & 0x80:
        pos += 3 * (2 ** ((flags & 0x07) + 1))
    pos += 1  # LZW min code size
    while payload[pos] != 0:
        pos += 1 + payload[pos]
    return pos + 1


def decode_gif(payload: bytes) -> dict:
    """Full GIF decode: global/local palette + LZW image data -> pixels.

    Handles interlaced frames (4-pass row reorder), transparency (an
    89a Graphic Control Extension with the transparent flag makes the
    output RGBA with the transparent index at alpha 0), and animations:
    pixels are the FIRST frame (the thumbnail/stats convention) with the
    total image count reported as ``frames``."""
    head = decode_gif_header(payload)
    pos = 13
    gct = None
    if head["palette_size"]:
        gct = payload[pos : pos + 3 * head["palette_size"]]
        if len(gct) < 3 * head["palette_size"]:
            raise ValueError("GIF truncated inside the global color table")
        pos += 3 * head["palette_size"]
    transparent: int | None = None
    first: dict | None = None
    frames = 0
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and payload[pos] >= 4:  # Graphic Control
                gce_flags = payload[pos + 1]
                transparent = payload[pos + 4] if gce_flags & 0x01 else None
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        if first is not None:
            pos = _gif_skip_image(payload, pos)
            frames += 1
            continue
        _left, _top, iw, ih = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
        flags = payload[pos + 9]
        pos += 10
        palette = gct
        if flags & 0x80:  # local color table
            n = 2 ** ((flags & 0x07) + 1)
            palette = payload[pos : pos + 3 * n]
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF image without a color table")
        ch = 4 if transparent is not None else 3
        _check_decoded_size(iw, ih, ch)
        min_code_size = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos] != 0:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        indices = _lzw_decode(min_code_size, bytes(data), max_symbols=iw * ih + 254)
        if len(indices) < iw * ih:
            raise ValueError("GIF pixel data truncated")
        rows = (
            _gif_deinterlace(ih)
            if flags & 0x40
            else range(ih)
        )
        out = bytearray(iw * ih * ch)
        for sy, dy in enumerate(rows):
            for x in range(iw):
                idx = indices[sy * iw + x]
                ci = idx * 3
                j = (dy * iw + x) * ch
                out[j : j + 3] = palette[ci : ci + 3]
                if ch == 4:
                    out[j + 3] = 0 if idx == transparent else 255
        first = {
            "format": "gif",
            "width": iw,
            "height": ih,
            "channels": ch,
            "pixels": bytes(out),
            "palette_size": head["palette_size"],
            "version": head["version"],
        }
        frames += 1
        transparent = None  # GCE applies to one rendering block only
    if first is not None:
        first["frames"] = frames
        return first
    # no image block: header-only payload (legacy fixtures)
    return head


def _gif_image_block(
    width: int, height: int, indices: bytes, interlace: bool,
    local_palette: bytes | None,
) -> bytes:
    """One image descriptor + optional LCT + 'uncompressed' LZW data.

    Every index is emitted as a literal 9-bit code with a CLEAR every 254
    symbols, so the dictionary never forces a code-size change —
    trivially correct; the DECODER's dictionary-growth paths are covered
    separately by the hand-derived LZW known-answer test."""
    flags = 0
    if interlace:
        flags |= 0x40
        order = _gif_deinterlace(height)
        indices = b"".join(
            indices[y * width : (y + 1) * width] for y in order
        )
    out = bytearray()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    if local_palette is not None:
        n = len(local_palette) // 3
        if n & (n - 1) or not 2 <= n <= 256:
            raise ValueError("GIF local palette size must be a power of two")
        flags |= 0x80 | (n.bit_length() - 2)
        out.append(flags)
        out += local_palette
    else:
        out.append(flags)
    min_code_size = 8
    clear, end = 256, 257
    bits: list[int] = []

    def emit(code: int) -> None:
        for i in range(9):
            bits.append((code >> i) & 1)

    emit(clear)
    for j, idx in enumerate(indices):
        if j and j % 254 == 0:
            emit(clear)
        emit(idx)
    emit(end)
    data = bytearray((len(bits) + 7) // 8)
    for i, bit in enumerate(bits):
        if bit:
            data[i >> 3] |= 1 << (i & 7)
    out.append(min_code_size)
    d = bytes(data)
    for off in range(0, len(d), 255):
        chunk = d[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00"
    return bytes(out)


def encode_gif(
    width: int,
    height: int,
    indices: bytes,
    palette: bytes,
    interlace: bool = False,
    transparent_index: int | None = None,
    extra_frames: list[bytes] | None = None,
    local_palettes: list[bytes] | None = None,
) -> bytes:
    """GIF from palette indices (fixture source): optional interlacing,
    optional transparency (writes an 89a Graphic Control Extension), and
    optional animation frames (``extra_frames``: more index buffers, each
    optionally with its own local color table)."""
    assert len(palette) == 256 * 3, "fixture encoder uses a full 256-entry palette"
    animated = bool(extra_frames) or transparent_index is not None
    out = bytearray()
    out += b"GIF89a" if animated else b"GIF87a"
    out += struct.pack("<HH", width, height)
    out += bytes((0x80 | 0x07, 0, 0))  # GCT present, 256 entries
    out += palette
    if transparent_index is not None:
        out += bytes((0x21, 0xF9, 4, 0x01, 0, 0, transparent_index, 0))
    out += _gif_image_block(width, height, indices, interlace, None)
    for fi, frame in enumerate(extra_frames or []):
        lct = local_palettes[fi] if local_palettes else None
        out += _gif_image_block(width, height, frame, interlace, lct)
    out += b";"
    return bytes(out)


# --------------------------------------------------------------------------
# decode dispatch + statistics
# --------------------------------------------------------------------------


def decode_image(payload: bytes) -> dict:
    """Sniff + decode: PNG / BMP / GIF, all to full pixel buffers (a GIF
    with no image block — a bare header — decodes to pixels None).

    ALWAYS raises ValueError on undecodable input: truncated payloads
    that would otherwise escape as IndexError / struct.error / zlib.error
    from the parsers are normalised here, so per-row error containment in
    callers needs exactly one except clause."""
    try:
        if payload[:8] == PNG_SIG:
            return decode_png(payload)
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif(payload)
        if payload[:2] == b"\xff\xd8":
            return decode_jpeg(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            from .tiffcodec import decode_tiff  # lazy: tiffcodec imports us

            return decode_tiff(payload)
    except ValueError:
        raise
    except (IndexError, KeyError, struct.error, zlib.error) as e:
        raise ValueError(f"truncated/corrupt image payload: {e}") from e
    raise ValueError("unknown image format")


def sniff_image_meta(payload: bytes) -> dict | None:
    """Header-only format + dimensions probe — no pixel decode, no
    allocation proportional to the claimed dims (reference analog: the
    metadata probe before full decode, ocrfw/preprocessing.py:115-135).

    Returns ``{"format", "width", "height"}`` for recognised PNG / BMP /
    GIF / JPEG / WebP / TIFF headers, ``None`` for anything else — the
    caller decides the fallback.  (WebP pixel DECODE still needs a real
    library; baseline and progressive JPEG and baseline TIFF decode
    in-repo.)
    Malformed-but-signatured headers (truncated IHDR, zero dims, dims
    past the PNG spec's 2^31-1 cap) also return None: a sniff must never
    raise, it runs on arbitrary crawl bytes."""
    try:
        if payload[:8] == PNG_SIG:
            if len(payload) >= 24 and payload[12:16] == b"IHDR":
                width, height = struct.unpack(">II", payload[16:24])
                # PNG dims are unsigned on the wire but the spec caps them
                # at 2^31-1; larger values are invalid AND would overflow
                # the int32 metadata schema (review finding)
                if 0 < width <= 0x7FFFFFFF and 0 < height <= 0x7FFFFFFF:
                    return {"format": "png", "width": width, "height": height}
            return None
        if payload[:2] == b"BM" and len(payload) >= 22:
            # 'BM' alone is a 2-byte magic — far too weak against arbitrary
            # crawl bytes (any text starting "BM" would sniff as an image).
            # Require the two reserved zero words and a known header size,
            # like `file`'s magic does.
            if payload[6:10] != b"\x00\x00\x00\x00":
                return None
            (hdr_size,) = struct.unpack("<I", payload[14:18])
            if hdr_size == 12:  # BITMAPCOREHEADER: 16-bit dims
                width, height = struct.unpack("<HH", payload[18:22])
            elif hdr_size in (40, 52, 56, 64, 108, 124) and len(payload) >= 26:
                width, height = struct.unpack("<ii", payload[18:26])
            else:
                return None
            # negative BMP height = top-down row order; dims still |height|
            if width > 0 and height != 0:
                return {"format": "bmp", "width": width, "height": abs(height)}
            return None
        if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
            width, height = struct.unpack("<HH", payload[6:10])
            if width > 0 and height > 0:
                return {"format": "gif", "width": width, "height": height}
            return None
        if payload[:2] == b"\xff\xd8":
            return _sniff_jpeg(payload)
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            return _sniff_webp(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            from .tiffcodec import sniff_tiff_meta

            return sniff_tiff_meta(payload)
    except (struct.error, IndexError):
        return None
    return None


def _sniff_jpeg(payload: bytes) -> dict | None:
    """JPEG dims from the first SOF0-SOF15 marker (JFIF/EXIF segment walk;
    public marker layout, ITU T.81 §B.2.2).  The pixel DECODE still needs
    a real library — this reads only the frame header."""
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            return None  # desynchronised marker stream
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        (seg_len,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if seg_len < 2:
            return None
        # SOF0-SOF15 except the DHT/DAC/JPG pseudo-markers C4/C8/CC
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > n:
                return None
            height, width = struct.unpack(">HH", payload[pos + 5 : pos + 9])
            if width > 0 and height > 0:
                return {"format": "jpeg", "width": width, "height": height}
            return None
        if marker in (0xD9, 0xDA):  # EOI / start-of-scan before any SOF
            return None
        pos += 2 + seg_len
    return None


def _sniff_webp(payload: bytes) -> dict | None:
    """WebP dims from the first chunk header: VP8 (lossy frame tag),
    VP8L (lossless 14-bit packed dims) or VP8X (extended, 24-bit minus
    one).  Public container layout (RIFF + WebP bitstream specs)."""
    if len(payload) < 30:
        return None
    tag = payload[12:16]
    if tag == b"VP8 ":
        # lossy: 3-byte frame tag, then the 0x9d012a sync code, then dims
        if payload[23:26] != b"\x9d\x01\x2a":
            return None
        width, height = struct.unpack("<HH", payload[26:30])
        width &= 0x3FFF
        height &= 0x3FFF
    elif tag == b"VP8L":
        if payload[20] != 0x2F:  # lossless signature byte
            return None
        (bits,) = struct.unpack("<I", payload[21:25])
        width = (bits & 0x3FFF) + 1
        height = ((bits >> 14) & 0x3FFF) + 1
    elif tag == b"VP8X":
        width = 1 + int.from_bytes(payload[24:27], "little")
        height = 1 + int.from_bytes(payload[27:30], "little")
    else:
        return None
    if width > 0 and height > 0:
        return {"format": "webp", "width": width, "height": height}
    return None


def image_stats(decoded: dict) -> dict:
    """Integer-exact luminance statistics of a decoded image.

    luma1000 per pixel = 299R + 587G + 114B (gray: 1000V; alpha ignored).
    brightness = mean(luma1000)/1000, contrast = population-std of
    luma1000/1000 — both derived from exact integer sums, so any engine
    reproduces them bit-for-bit from the same pixel values."""
    px, ch = decoded["pixels"], decoded["channels"]
    n = decoded["width"] * decoded["height"]
    if px is None or n == 0:
        return {"brightness": None, "contrast": None, "min_luma": None, "max_luma": None}
    import numpy as np  # exact int64 accumulation, vectorised

    a = np.frombuffer(px, dtype=np.uint8).reshape(n, ch).astype(np.int64)
    if ch >= 3:
        luma = 299 * a[:, 0] + 587 * a[:, 1] + 114 * a[:, 2]
    else:
        luma = 1000 * a[:, 0]
    s = int(luma.sum())
    s2 = int((luma * luma).sum())
    lo, hi = int(luma.min()), int(luma.max())
    mean = s / n
    var = s2 / n - mean * mean
    import math  # math.sqrt == SQL sqrt (IEEE correctly rounded); x**0.5 is pow()

    return {
        "brightness": mean / 1000.0,
        "contrast": math.sqrt(max(var, 0.0)) / 1000.0,
        "min_luma": lo / 1000.0,
        "max_luma": hi / 1000.0,
    }


#: dhash16 grid — 4 cell rows x 5 cell columns -> 4x4 = 16 horizontal
#: gradient-sign bits.  The classic dHash resamples to (W+1) x H with
#: bilinear interpolation; area-average pooling replaces that here because
#: it has an EXACT integer form any engine (and the SQL oracle) reproduces
#: bit-for-bit — no float resize kernel to disagree over.
DHASH_ROWS = 4
DHASH_COLS = 5


def dhash16(decoded: dict):
    """16-bit difference hash of a decoded image — integer-exact.

    Pools luma1000 (same 299/587/114 weights as ``image_stats``) into a
    ``DHASH_ROWS x DHASH_COLS`` grid by area average (cell of pixel x is
    ``x * COLS // width``), then bit ``r*4 + c`` is set iff cell (r, c) is
    strictly brighter than its right neighbour (r, c+1).  The mean
    comparison ``s_a/n_a > s_b/n_b`` is evaluated as the cross-product
    ``s_a * n_b > s_b * n_a`` so no division (hence no float) ever
    happens — the SQL oracle replays the identical integer arithmetic.

    Returns None for images with no pixel data (header-only GIF).
    """
    px, ch = decoded["pixels"], decoded["channels"]
    w, h = decoded["width"], decoded["height"]
    if px is None or w == 0 or h == 0:
        return None
    import numpy as np

    a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch).astype(np.int64)
    if ch >= 3:
        luma = 299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]
    else:
        luma = 1000 * a[..., 0]
    cx = (np.arange(w) * DHASH_COLS) // w
    cy = (np.arange(h) * DHASH_ROWS) // h
    idx = (cy[:, None] * DHASH_COLS + cx[None, :]).ravel()
    ncell = DHASH_ROWS * DHASH_COLS
    # bincount weights are float64: exact for integer sums < 2^53 (max
    # possible sum = 255000 * 2^31 px ~ 2^49 — far below)
    s = np.bincount(idx, weights=luma.ravel(), minlength=ncell).astype(np.int64)
    n = np.bincount(idx, minlength=ncell).astype(np.int64)
    s = s.reshape(DHASH_ROWS, DHASH_COLS)
    n = n.reshape(DHASH_ROWS, DHASH_COLS)
    hsh = 0
    for r in range(DHASH_ROWS):
        for c in range(DHASH_COLS - 1):
            if s[r, c] * n[r, c + 1] > s[r, c + 1] * n[r, c]:
                hsh |= 1 << (r * (DHASH_COLS - 1) + c)
    return hsh


# --------------------------------------------------------------------------
# deterministic fixture source
# --------------------------------------------------------------------------


def synth_image(doc_id: int) -> bytes:
    """Deterministic synthetic image for ``doc_id`` — REAL encoded bytes.

    The pixel pattern has a closed form the DuckDB oracle recomputes
    analytically (it never decodes a PNG):

        kind   = doc_id % 4   (0: PNG RGB, 1: PNG gray, 2: BMP,
                               3: GIF gray-palette — analytic luma 1000*v)
        w      = 8 + doc_id % 9;  h = 8 + (3*doc_id) % 9
        px(x, y, c) = (7x + 13y + 31*doc_id + 57c) % 256

    PNGs cycle the scanline filter (y % 5), so decoding them exercises all
    five RFC-2083 predictors — a decoder bug shifts the pixels and the
    analytic stats stop matching.

    A second key, ``variant = doc_id // 4 % 3``, cycles the WIRE encoding
    within each kind — PNG: plain / Adam7-interlaced / 16-bit; BMP:
    24-bpp / 32-bpp BGRx / 32-bpp BI_BITFIELDS; GIF: plain / interlaced —
    all of which decode to IDENTICAL pixels, so every format/dim/stat
    oracle is unchanged while the corpus drives the full decoder range
    under the oracle gate."""
    d = int(doc_id)
    w, h = 8 + d % 9, 8 + (3 * d) % 9
    kind = d % 4
    variant = d // 4 % 3

    def val(x: int, y: int, c: int) -> int:
        return (7 * x + 13 * y + 31 * d + 57 * c) % 256

    if kind == 3:
        # real single-frame GIF: grayscale 256-entry palette (palette[i] =
        # (i,i,i)) with the kind-1 gray pattern as palette indices, so the
        # oracle's analytic luma is 1000*v exactly like PNG-gray
        palette = bytes(v for i in range(256) for v in (i, i, i))
        idx = bytes(val(x, y, 0) for y in range(h) for x in range(w))
        return encode_gif(w, h, idx, palette, interlace=(variant == 1))

    if kind == 1:
        px = bytes(val(x, y, 0) for y in range(h) for x in range(w))
        return encode_png(
            w, h, px, color_type=0, filter_choice=lambda y: y % 5,
            interlace=1 if variant == 1 else 0,
            depth=16 if variant == 2 else 8,
        )
    px = bytes(val(x, y, c) for y in range(h) for x in range(w) for c in range(3))
    if kind == 0:
        return encode_png(
            w, h, px, color_type=2, filter_choice=lambda y: y % 5,
            interlace=1 if variant == 1 else 0,
            depth=16 if variant == 2 else 8,
        )
    if variant == 0:
        return encode_bmp(w, h, px)
    return encode_bmp32(w, h, px, bitfields=(variant == 2))


# --------------------------------------------------------------------------
# Baseline JPEG (ITU T.81 sequential DCT, 8-bit) — pure Python + numpy.
#
# Public-spec reimplementation: segment layout per T.81 Annex B, canonical
# Huffman code construction per C.2, entropy coding per F.1/F.2, IDCT as
# the orthonormal 8x8 DCT-III (numpy matmul).  The encoder exists as the
# deterministic fixture source (it writes its OWN optimised Huffman
# tables into DHT, so no Annex-K constants are transcribed); the decoder
# reads any baseline stream: gray or YCbCr, 4:4:4 / 4:2:2 / 4:2:0,
# restart markers, byte stuffing.
#
# Exactness contract used by the oracle fixtures: an image whose every
# 8x8 block is a constant value, encoded with all-ones quantisation
# tables, decodes BIT-EXACTLY (constant block -> DC-only spectrum, unit
# quantisation keeps the integer DC, IDCT of a DC-only block is constant
# to ~1e-12 before rounding).  Real-world photos decode with the normal
# lossy error; replicated-pixel upsampling is the documented divergence
# from fancy-upsampling decoders.
# --------------------------------------------------------------------------

import numpy as _np


def _dct_matrix() -> "_np.ndarray":
    import math

    C = _np.zeros((8, 8))
    for u in range(8):
        cu = math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8)
        for x in range(8):
            C[u, x] = cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return C


_DCT_C = _dct_matrix()

#: zigzag scan order, generated (not transcribed): anti-diagonals, even
#: sums walk bottom-left -> top-right
_ZIGZAG: list = []
for _s in range(15):
    _diag = [(_s - _c, _c) for _c in range(max(0, _s - 7), min(_s, 7) + 1)]
    _ZIGZAG.extend(reversed(_diag) if _s % 2 else _diag)
del _s, _diag

#: all-ones luminance quantisation table: mathematically lossless for
#: constant blocks — the oracle fixtures' setting
JPEG_UNIT_QUANT = [1] * 64


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (B.1.1.5)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _huffman_lengths(freqs: dict) -> dict:
    """Code lengths from symbol frequencies (plain Huffman via heapq),
    with the libjpeg trick of a reserved always-last dummy symbol so no
    REAL symbol gets the all-ones code T.81 forbids (K.2)."""
    import heapq

    items = [(f, i, [sym]) for i, (sym, f) in enumerate(sorted(freqs.items())) if f > 0]
    items.append((0, -1, ["__reserved__"]))  # dummy: rarest -> deepest code
    if len(items) == 1:
        return {"__reserved__": 1}
    heapq.heapify(items)
    lengths: dict = {s: 0 for _, _, syms in items for s in syms}
    n = len(items)
    while len(items) > 1:
        f1, i1, s1 = heapq.heappop(items)
        f2, i2, s2 = heapq.heappop(items)
        for s in s1 + s2:
            lengths[s] += 1
        n += 1
        heapq.heappush(items, (f1 + f2, n, s1 + s2))
    if max(lengths.values()) > 16:
        # fixture symbols never need >16-bit codes; a hostile frequency
        # profile would — refuse rather than emit an invalid stream
        raise ValueError("Huffman code length over 16 bits (unsupported profile)")
    return lengths


def _canonical_codes(lengths: dict) -> tuple[dict, list, list]:
    """(symbol -> (code, length), BITS[1..16], HUFFVAL) per T.81 C.2 —
    symbols ordered by (length, symbol value), codes assigned counting
    up.  The dummy symbol sorts LAST within its length (it is a string),
    receiving the all-ones deepest code, and is then dropped."""
    by_len: dict = {}
    for sym, ln in lengths.items():
        by_len.setdefault(ln, []).append(sym)
    bits = [0] * 17
    codes: dict = {}
    code = 0
    huffval: list = []
    for ln in range(1, 17):
        syms = sorted(
            by_len.get(ln, []),
            key=lambda s: (isinstance(s, str), s),  # ints first, dummy last
        )
        for sym in syms:
            if sym != "__reserved__":
                codes[sym] = (code, ln)
                bits[ln] += 1
                huffval.append(sym)
            code += 1
        code <<= 1
    return codes, bits[1:], huffval


def _category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _blocks_of_plane(plane: "_np.ndarray") -> "_np.ndarray":
    """(h, w) plane with multiple-of-8 dims -> (nby, nbx, 8, 8) float64
    blocks.  Padding happens ONCE, in ``_encode_jpeg``'s MCU-coverage
    ``_pad_plane_to`` (review finding: a second pad branch here was dead
    code that could silently diverge from the real one)."""
    H, W = plane.shape
    if H % 8 or W % 8:
        raise ValueError("plane dims must be multiples of 8 (pad first)")
    return (
        plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).astype(_np.float64)
    )


def _pad_plane_to(plane: "_np.ndarray", bh: int, bw: int) -> "_np.ndarray":
    """Edge-replicate ``plane`` up to (bh, bw) (MCU coverage padding —
    replication keeps constant blocks constant, the exactness fixture's
    requirement)."""
    h, w = plane.shape
    return _np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _plane_qcoefs(plane: "_np.ndarray", quant: list) -> "_np.ndarray":
    blocks = _blocks_of_plane(plane) - 128.0
    q = _np.array(quant, dtype=_np.float64).reshape(8, 8)
    coefs = _np.einsum("ux,abxy,vy->abuv", _DCT_C, blocks, _DCT_C)
    return _np.rint(coefs / q).astype(_np.int64)


def _block_symbols(blk: "_np.ndarray", pred: int) -> tuple:
    """(dc_cat, dc_diff, [(ac_sym, size, val), ...], new_pred) for one
    quantised 8x8 block — the F.1.2 run/size symbol stream."""
    dc = int(blk[0, 0])
    diff = dc - pred
    cat = _category(diff)
    acs: list = []
    run = 0
    coeff_list = [int(blk[r, c]) for (r, c) in _ZIGZAG[1:]]
    last_nz = -1
    for i, v in enumerate(coeff_list):
        if v:
            last_nz = i
    for i in range(last_nz + 1):
        v = coeff_list[i]
        if v == 0:
            run += 1
            if run == 16:
                acs.append((0xF0, 0, 0))
                run = 0
            continue
        size = _category(v)
        acs.append(((run << 4) | size, size, v))
        run = 0
    if last_nz < 62:
        acs.append((0x00, 0, 0))
    return cat, diff, acs, dc


def _encode_jpeg(
    width: int,
    height: int,
    planes: list,
    samplings: list,
    quants: list,
    restart_interval: int = 0,
) -> bytes:
    """Multi-component baseline encoder core.

    ``planes``: uint8 2D arrays, already subsampled to
    ceil(width*h_i/hmax) x ceil(height*v_i/vmax); component 0 uses
    quant/Huffman table set 0, all others share set 1 (the conventional
    luma/chroma split).  Huffman tables are built from the stream's own
    symbol frequencies (canonical per T.81 C.2, all-ones code reserved).
    ``restart_interval`` > 0 writes DRI + RSTn markers every that many
    MCUs with DC-predictor resets (the error-resilience feature real
    encoders emit — gives the decoder's restart path a genuine fixture)."""
    ncomp = len(planes)
    hmax = max(h for h, _ in samplings)
    vmax = max(v for _, v in samplings)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    qcoefs = []
    for ci, plane in enumerate(planes):
        h_i, v_i = samplings[ci]
        padded = _pad_plane_to(plane, mcuy * 8 * v_i, mcux * 8 * h_i)
        qcoefs.append(_plane_qcoefs(padded, quants[min(ci, 1)]))

    # pass 1: MCU-ordered symbol stream + per-table-class frequencies
    ntab = 1 if ncomp == 1 else 2
    dc_freq = [dict() for _ in range(ntab)]
    ac_freq = [dict() for _ in range(ntab)]
    seq: list = []  # (table_class, cat, diff, acs) | "RST" sentinel
    preds = [0] * ncomp
    mcu_index = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                seq.append("RST")
                preds = [0] * ncomp  # predictors reset at restart (F.2.1.3)
            for ci in range(ncomp):
                h_i, v_i = samplings[ci]
                tc = min(ci, 1)
                for by in range(v_i):
                    for bx in range(h_i):
                        blk = qcoefs[ci][my * v_i + by, mx * h_i + bx]
                        cat, diff, acs, preds[ci] = _block_symbols(blk, preds[ci])
                        dc_freq[tc][cat] = dc_freq[tc].get(cat, 0) + 1
                        for sym, _sz, _v in acs:
                            ac_freq[tc][sym] = ac_freq[tc].get(sym, 0) + 1
                        seq.append((tc, cat, diff, acs))
            mcu_index += 1

    dc_tabs = [_canonical_codes(_huffman_lengths(f)) for f in dc_freq]
    ac_tabs = [_canonical_codes(_huffman_lengths(f)) for f in ac_freq]

    # pass 2: emit
    bw = _BitWriter()
    rst_no = 0
    for item in seq:
        if item == "RST":
            bw.flush()  # pad to byte boundary before the marker
            bw.out += bytes([0xFF, 0xD0 + (rst_no % 8)])
            rst_no += 1
            continue
        tc, cat, diff, acs = item
        code, ln = dc_tabs[tc][0][cat]
        bw.write(code, ln)
        if cat:
            bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        for sym, size, v in acs:
            code, ln = ac_tabs[tc][0][sym]
            bw.write(code, ln)
            if size:
                bw.write(v if v >= 0 else v + (1 << size) - 1, size)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    for t in range(ntab):
        zz_quant = bytes(quants[t][r * 8 + c] for (r, c) in _ZIGZAG)
        out += seg(0xDB, bytes([t]) + zz_quant)
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci in range(ncomp):
        h_i, v_i = samplings[ci]
        sof += bytes([ci + 1, (h_i << 4) | v_i, min(ci, 1)])
    out += seg(0xC0, sof)
    for t in range(ntab):
        out += seg(0xC4, bytes([t]) + bytes(dc_tabs[t][1]) + bytes(dc_tabs[t][2]))
        out += seg(0xC4, bytes([0x10 | t]) + bytes(ac_tabs[t][1]) + bytes(ac_tabs[t][2]))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = min(ci, 1)
        sos += bytes([ci + 1, (t << 4) | t])
    out += seg(0xDA, sos + bytes([0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_gray(
    width: int, height: int, pixels: bytes, quant=None, restart_interval: int = 0
) -> bytes:
    """Baseline grayscale JPEG from an 8-bit row-major buffer.

    ``quant``: 64 ints in NATURAL (row-major) order; default
    ``JPEG_UNIT_QUANT`` (all ones — lossless for constant blocks, the
    oracle fixture setting)."""
    if len(pixels) != width * height:
        raise ValueError(
            f"pixel buffer {len(pixels)} bytes does not match {width}x{height}x1 dims"
        )
    quant = list(JPEG_UNIT_QUANT if quant is None else quant)
    plane = _np.frombuffer(pixels, dtype=_np.uint8).reshape(height, width)
    return _encode_jpeg(
        width, height, [plane], [(1, 1)], [quant], restart_interval=restart_interval
    )


def _rgb_planes(width: int, height: int, rgb: bytes, subsampling: str):
    """RGB -> BT.601 YCbCr component planes + sampling factors (shared by
    the baseline and progressive encoders): chroma subsampled by 2x2
    averaging for 4:2:0, horizontal pairs for 4:2:2, full for 4:4:4."""
    a = _np.frombuffer(rgb, dtype=_np.uint8).reshape(height, width, 3).astype(_np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    to_u8 = lambda x: _np.clip(_np.rint(x), 0, 255).astype(_np.uint8)
    if subsampling == "4:4:4":
        return [to_u8(y), to_u8(cb), to_u8(cr)], [(1, 1), (1, 1), (1, 1)]
    if subsampling == "4:2:2":
        pw = -width % 2

        def down_h(p):
            if pw:
                p = _np.pad(p, ((0, 0), (0, pw)), mode="edge")
            return to_u8((p[:, 0::2] + p[:, 1::2]) / 2.0)

        return [to_u8(y), down_h(cb), down_h(cr)], [(2, 1), (1, 1), (1, 1)]
    ph, pw = -height % 2, -width % 2

    def down(p):
        if ph or pw:
            p = _np.pad(p, ((0, ph), (0, pw)), mode="edge")
        return to_u8(
            (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
        )

    return [to_u8(y), down(cb), down(cr)], [(2, 2), (1, 1), (1, 1)]


def encode_jpeg_rgb(
    width: int,
    height: int,
    rgb: bytes,
    subsampling: str = "4:2:0",
    quant=None,
    chroma_quant=None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline color JPEG: RGB -> BT.601 YCbCr, chroma subsampled by
    2x2 averaging for 4:2:0, horizontal pairs for 4:2:2, or kept full
    for 4:4:4."""
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"pixel buffer {len(rgb)} bytes does not match {width}x{height}x3 dims"
        )
    if subsampling not in ("4:2:0", "4:2:2", "4:4:4"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    quant = list(JPEG_UNIT_QUANT if quant is None else quant)
    chroma_quant = list(quant if chroma_quant is None else chroma_quant)
    planes, samplings = _rgb_planes(width, height, rgb, subsampling)
    return _encode_jpeg(
        width, height, planes, samplings, [quant, chroma_quant],
        restart_interval=restart_interval,
    )


class _BitReader:
    """MSB-first entropy-segment reader: un-stuffs 0xFF00, stops at any
    real marker (leaves it for the caller), raises ValueError on EOF."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("JPEG entropy data truncated (hit marker)")
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy data truncated (EOF)")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                raise ValueError("JPEG entropy data truncated (hit marker)")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int | None:
        """Drop partial bits and consume an RSTn marker if next."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF:
            m = self.data[self.pos + 1]
            if 0xD0 <= m <= 0xD7:
                self.pos += 2
                return m
        return None


def _huff_decode(br: "_BitReader", table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.bit()
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(payload: bytes) -> dict:
    """Baseline sequential JPEG -> {format, width, height, channels,
    pixels} (gray: 1 channel; YCbCr -> RGB: 3 channels; replicated-pixel
    chroma upsampling).  Raises ValueError on progressive (SOF2),
    arithmetic, 12-bit, truncated or otherwise undecodable streams —
    headers are untrusted crawl bytes, so parser index/struct slips are
    normalised to the decoders' shared ValueError contract."""
    try:
        return _decode_jpeg_inner(payload)
    except ValueError:
        raise
    except (IndexError, KeyError, struct.error, StopIteration) as e:
        raise ValueError(f"truncated/corrupt JPEG payload: {e}") from e


def _decode_jpeg_inner(payload: bytes) -> dict:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict = {}
    huff: dict = {}  # (class, id) -> {(code, len): symbol}
    comps: list = []
    width = height = None
    restart_interval = 0
    pos = 2
    n = len(payload)
    scan = None
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker stream desynchronised")
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            # standalone markers (SOI/TEM/RSTn) carry no length — reading
            # one as a segment desynchronised the walk while _sniff_jpeg
            # skipped it correctly (review finding: sniff/decode must
            # agree on what is a JPEG)
            pos += 2
            continue
        (seg_len,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                if prec != 0:
                    raise ValueError("16-bit quantisation tables unsupported")
                tbl = _np.zeros((8, 8))
                for k, (r, c) in enumerate(_ZIGZAG):
                    tbl[r, c] = body[i + 1 + k]
                qt[tid] = tbl
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nsym = sum(bits)
                vals = list(body[i + 17 : i + 17 + nsym])
                table: dict = {}
                code, vi = 0, 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        table[(code, ln)] = vals[vi]
                        code += 1
                        vi += 1
                    code <<= 1
                huff[(cls, tid)] = table
                i += 17 + nsym
        elif marker in (0xC0, 0xC1):
            if body[0] != 8:
                raise ValueError("only 8-bit baseline JPEG supported")
            height, width = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
        elif marker == 0xC2:
            from .jpegprog import decode_jpeg_progressive  # lazy: imports us

            return decode_jpeg_progressive(payload)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (lossless/arithmetic) unsupported")
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            scan = []
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(x for x in comps if x["id"] == cid)
                scan.append({**comp, "td": tabs >> 4, "ta": tabs & 0x0F})
            pos = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if scan is None or width is None:
        raise ValueError("JPEG has no SOS/SOF frame")
    ncomp = len(scan)
    if ncomp not in (1, 3):
        raise ValueError(f"unsupported JPEG component count {ncomp}")
    if len(comps) != ncomp:
        # a 3-component frame delivered as separate per-component scans
        # (non-interleaved baseline) would otherwise silently decode only
        # the first scan — refuse explicitly (library seam)
        raise ValueError("multi-scan (non-interleaved) baseline JPEG unsupported")
    _check_decoded_size(width, height, 1 if ncomp == 1 else 3)

    if ncomp == 1:
        # T.81 A.2.2: a single-component scan is NON-interleaved — the MCU
        # is one block and the frame's sampling factors are ignored
        # (libjpeg keeps 2x2 luma factors when writing grayscale from a
        # color source; honouring them here scrambled pixels into MCU-tile
        # order — review finding, reproduced)
        scan = [{**scan[0], "h": 1, "v": 1}]
    for c in scan:
        if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4):
            raise ValueError("invalid JPEG sampling factors")
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    for c in scan:
        if hmax % c["h"] or vmax % c["v"]:
            # legal per T.81 but needs fractional upsampling (e.g. 4:3);
            # the replicate upsampler below would emit wrong-sized planes
            # — refuse explicitly rather than mis-decode (review finding)
            raise ValueError("non-divisor JPEG sampling ratios unsupported")
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = [
        _np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=_np.float64)
        for c in scan
    ]
    for c in scan:
        if c["tq"] not in qt or (0, c["td"]) not in huff or (1, c["ta"]) not in huff:
            raise ValueError("JPEG scan references a missing table")

    br = _BitReader(payload, pos)
    preds = [0] * ncomp
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if br.align_to_marker() is None:
                    raise ValueError("missing JPEG restart marker")
                preds = [0] * ncomp
            for ci, c in enumerate(scan):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = _np.zeros(64)
                        t = _huff_decode(br, huff[(0, c["td"])])
                        if t > 11:
                            raise ValueError("invalid JPEG DC category")
                        diff = _extend(br.bits(t), t) if t else 0
                        preds[ci] += diff
                        blk[0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = _huff_decode(br, huff[(1, c["ta"])])
                            if sym == 0x00:
                                break
                            run, size = sym >> 4, sym & 0x0F
                            if sym == 0xF0:
                                k += 16
                                continue
                            k += run
                            if k > 63 or size == 0:
                                raise ValueError("invalid JPEG AC run/size")
                            blk[k] = _extend(br.bits(size), size)
                            k += 1
                        grid = _np.zeros((8, 8))
                        for k2, (r, cc) in enumerate(_ZIGZAG):
                            grid[r, cc] = blk[k2]
                        grid *= qt[c["tq"]]
                        pix = _DCT_C.T @ grid @ _DCT_C + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1

    # crop + replicate-upsample each plane to (height, width)
    full = []
    for ci, c in enumerate(scan):
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        p = planes[ci][:ch, :cw]
        p = _np.repeat(_np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:height, :width])
    if ncomp == 1:
        gray = _np.clip(_np.rint(full[0]), 0, 255).astype(_np.uint8)
        return {
            "format": "jpeg", "width": width, "height": height,
            "channels": 1, "pixels": gray.tobytes(),
        }
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = _np.stack(
        [_np.clip(_np.rint(x), 0, 255).astype(_np.uint8) for x in (r, g, b)], axis=-1
    )
    return {
        "format": "jpeg", "width": width, "height": height,
        "channels": 3, "pixels": rgb.tobytes(),
    }


def synth_jpeg(doc_id: int) -> bytes:
    """Deterministic grayscale baseline JPEG with a closed-form EXACT
    decode: dims are multiples of 8, every 8x8 block is the constant
    val(bx, by) = (7*bx + 13*by + 31*doc_id) % 256, and the quantisation
    table is all ones — a constant block is DC-only, unit quantisation
    keeps the integer DC, and the IDCT returns the constant exactly, so
    the DuckDB oracle recomputes the decoded luminance stats analytically
    from the block formula without any JPEG machinery (the same
    symmetry-breaking trick as synth_image's analytic PNG oracle).

    Odd doc_ids encode the SAME pixels as PROGRESSIVE (SOF2) streams —
    DC-only constant blocks decode identically through the multi-scan
    successive-approximation path (``jpegprog``), so the analytic oracle
    is unchanged while the corpus exercises both decoders."""
    d = int(doc_id)
    w = 8 * (1 + d % 4)
    h = 8 * (1 + (3 * d) % 4)
    px = bytes(
        (7 * (x // 8) + 13 * (y // 8) + 31 * d) % 256
        for y in range(h)
        for x in range(w)
    )
    if d % 2:
        from .jpegprog import encode_jpeg_gray_progressive

        return encode_jpeg_gray_progressive(w, h, px)
    return encode_jpeg_gray(w, h, px)
