"""BMP (Windows DIB) decoder + encoder twin — stdlib + numpy.

A standalone codec with no caller in the query registry (reference anchor
``HFDatasetManager.py:202-215`` — arbitrary HF dataset columns via
``load_dataset(...).to_pandas()``, no codec in the reference itself). BMP is uncompressed (or trivially
RLE-compressed) and LOSSLESS, so the encoder twin gives bit-exact
round-trip oracles.

Scope: BITMAPINFOHEADER (40-byte) and the larger V4/V5 headers that
embed it; bottom-up and top-down rows; bit depths 24 (BGR) and 32
(BGRX, padding byte ignored), 8-bit paletted (BI_RGB and BI_RLE8 with
end-of-line / end-of-bitmap / delta escapes), and 1/4-bit paletted
uncompressed (MSB-first packing, 4-byte row alignment throughout).
Other depths/compressions (BI_RLE4, BI_BITFIELDS, embedded PNG/JPEG)
raise ``NotImplementedError`` — the capability-gap taxonomy; malformed
bytes raise ``ValueError``.
"""

from __future__ import annotations

import struct

import numpy as np

_LUMA = (299, 587, 114)  # shared 601-2 integer luma contract


def decode_bmp(content: bytes):
    """Decode a BMP. Returns ``(rgb, width, height)`` with ``rgb`` a
    (height, width, 3) uint8 array, top-down."""
    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP: bad signature or truncated header")
    (data_off,) = struct.unpack("<I", content[10:14])
    (hdr_size,) = struct.unpack("<I", content[14:18])
    if hdr_size < 40:
        raise NotImplementedError(
            f"real media decode: BMP core header size {hdr_size} unsupported"
        )
    width, height = struct.unpack("<ii", content[18:26])
    planes, bpp = struct.unpack("<HH", content[26:30])
    (compression,) = struct.unpack("<I", content[30:34])
    if planes != 1:
        raise ValueError(f"BMP: planes must be 1, got {planes}")
    if width <= 0 or height == 0:
        raise ValueError("BMP: invalid dimensions")
    top_down = height < 0
    height = abs(height)
    (n_colors,) = struct.unpack("<I", content[46:50])
    if bpp in (1, 4, 8):
        n_colors = n_colors or (1 << bpp)
        pal_off = 14 + hdr_size
        pal_bytes = content[pal_off : pal_off + 4 * n_colors]
        if len(pal_bytes) != 4 * n_colors:
            raise ValueError("BMP: truncated color table")
        # BGRX quads -> RGB
        pal = np.frombuffer(pal_bytes, dtype=np.uint8).reshape(-1, 4)[
            :, [2, 1, 0]
        ]
    elif bpp in (24, 32):
        pal = None
    else:
        raise NotImplementedError(
            f"real media decode: BMP bit depth {bpp} unsupported"
        )
    data = content[data_off:]
    if compression == 0:  # BI_RGB
        idx_or_rgb = _decode_uncompressed(data, width, height, bpp)
    elif compression == 1 and bpp == 8:  # BI_RLE8
        idx_or_rgb = _decode_rle8(data, width, height)
    else:
        raise NotImplementedError(
            f"real media decode: BMP compression {compression} at "
            f"{bpp} bpp unsupported"
        )
    if not top_down:
        idx_or_rgb = idx_or_rgb[::-1]
    if pal is not None:
        if int(idx_or_rgb.max(initial=0)) >= pal.shape[0]:
            raise ValueError("BMP: pixel index outside color table")
        rgb = pal[idx_or_rgb]
    else:
        rgb = idx_or_rgb
    return np.ascontiguousarray(rgb), width, height


def _decode_uncompressed(data: bytes, width: int, height: int, bpp: int):
    row_bytes = (width * bpp + 7) // 8
    stride = (row_bytes + 3) & ~3  # rows pad to 4-byte boundaries
    need = stride * height
    if len(data) < need:
        raise ValueError("BMP: truncated pixel data")
    rows = np.frombuffer(data[:need], dtype=np.uint8).reshape(height, stride)
    if bpp == 24:
        bgr = rows[:, : width * 3].reshape(height, width, 3)
        return bgr[:, :, ::-1]
    if bpp == 32:
        bgrx = rows[:, : width * 4].reshape(height, width, 4)
        return bgrx[:, :, [2, 1, 0]]
    if bpp == 8:
        return rows[:, :width]
    # 1/4-bit: MSB-first unpack then trim to width
    bits = np.unpackbits(rows[:, :row_bytes], axis=1)
    if bpp == 1:
        return bits[:, :width]
    vals = (
        bits.reshape(height, -1, 4)
        * np.array([8, 4, 2, 1], dtype=np.uint8)
    ).sum(axis=2, dtype=np.uint8)
    return vals[:, :width]


def _decode_rle8(data: bytes, width: int, height: int):
    """BI_RLE8: (count, value) runs plus escapes 00 00 (end of line),
    00 01 (end of bitmap), 00 02 dx dy (delta), 00 n (absolute run,
    word-aligned). Rows are bottom-up in file order; caller flips."""
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:  # encoded run
            if y >= height or x + cnt > width:
                raise ValueError("BMP: RLE run exceeds row")
            out[y, x : x + cnt] = val
            x += cnt
            continue
        if val == 0:  # end of line
            x, y = 0, y + 1
            continue
        if val == 1:  # end of bitmap
            return out
        if val == 2:  # delta
            if i + 2 > n:
                raise ValueError("BMP: truncated RLE delta")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > width or y > height:
                raise ValueError("BMP: RLE delta out of bounds")
            continue
        # absolute mode: val literal pixels, padded to a word boundary
        run = val
        pad = run & 1
        if i + run + pad > n:
            raise ValueError("BMP: truncated RLE absolute run")
        if y >= height or x + run > width:
            raise ValueError("BMP: RLE absolute run exceeds row")
        out[y, x : x + run] = np.frombuffer(
            data[i : i + run], dtype=np.uint8
        )
        x += run
        i += run + pad
    raise ValueError("BMP: RLE stream missing end-of-bitmap")


def decode_bmp_luma(content: bytes) -> np.ndarray:
    rgb, _w, _h = decode_bmp(content)
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    return (r * _LUMA[0] + g * _LUMA[1] + b * _LUMA[2]) // 1000


def bmp_encode_rgb(
    pixels: bytes, width: int, height: int, top_down: bool = False
) -> bytes:
    """24-bit BI_RGB encoder — the lossless test twin. ``pixels`` is
    row-major RGB triples (top-down); the file is written bottom-up
    unless ``top_down`` (negative height)."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels length != width*height*3")
    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3)
    rows = rgb if top_down else rgb[::-1]
    stride = (width * 3 + 3) & ~3
    body = bytearray()
    for y in range(height):
        line = rows[y][:, ::-1].tobytes()  # RGB -> BGR
        body += line + bytes(stride - len(line))
    hdr_h = height if not top_down else -height
    info = struct.pack("<IiiHHIIiiII", 40, width, hdr_h, 1, 24, 0,
                       len(body), 2835, 2835, 0, 0)
    off = 14 + 40
    head = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return head + info + bytes(body)


def bmp_encode_pal8(
    pixels: bytes,
    palette,
    width: int,
    height: int,
    rle: bool = False,
) -> bytes:
    """8-bit paletted encoder (BI_RGB, or BI_RLE8 when ``rle``) — the
    twin for the palette and RLE decode paths."""
    if len(pixels) != width * height:
        raise ValueError("pixels length != width*height")
    palette = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    if palette.shape[0] > 256:
        raise ValueError("BMP: more than 256 palette entries")
    idx = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    if int(idx.max(initial=0)) >= palette.shape[0]:
        raise ValueError("pixel index outside palette")
    rows = idx[::-1]  # bottom-up
    if not rle:
        stride = (width + 3) & ~3
        body = bytearray()
        for y in range(height):
            body += rows[y].tobytes() + bytes(stride - width)
    else:
        body = bytearray()
        for y in range(height):
            x = 0
            line = rows[y]
            while x < width:
                run = 1
                while (
                    x + run < width and run < 255 and line[x + run] == line[x]
                ):
                    run += 1
                body += bytes([run, int(line[x])])
                x += run
            body += b"\x00\x00"  # end of line
        body += b"\x00\x01"  # end of bitmap
    quads = np.zeros((palette.shape[0], 4), dtype=np.uint8)
    quads[:, [2, 1, 0]] = palette  # RGB -> BGRX
    pal_bytes = quads.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 1 if rle else 0,
        len(body), 2835, 2835, palette.shape[0], 0,
    )
    off = 14 + 40 + len(pal_bytes)
    head = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return head + info + pal_bytes + bytes(body)
