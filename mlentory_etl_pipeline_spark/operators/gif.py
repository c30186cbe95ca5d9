"""GIF87a/89a decoder + encoder twin — stdlib + numpy, no external codec.

A standalone codec with no caller in the query registry (reference
anchor ``HFDatasetManager.py:202-215`` materializes arbitrary HF
dataset columns, image features included — the reference ships no
codec of its own). GIF is LOSSLESS, so unlike JPEG the
encoder twin gives bit-exact round-trip oracles: any palette image
must survive encode -> decode unchanged, across interlacing, LZW code
widths, dictionary resets, and multi-frame animations.

Scope:

- header + logical screen descriptor, global and local color tables;
- image descriptors with interlace (the 4-pass row order) and local
  palettes;
- GIF89a extensions: Graphic Control (transparency index, frame delay,
  disposal), application/comment/plain-text blocks (skipped);
- LZW decompression per the GIF variant: variable code width starting
  at ``min_code_size + 1``, CLEAR re-initializes the dictionary, EOI
  terminates, width grows after the dictionary fills a width (cap 12
  bits / 4096 codes — the encoder emits CLEAR at the cap so both sides
  exercise the reset path);
- multi-frame composition with disposal methods 0/1 (draw over) and
  2 (restore to background); each decoded frame is the full logical
  screen after composition.

Anything else (disposal 3 "restore to previous") raises
``NotImplementedError`` (capability-gap taxonomy); malformed bytes
raise ``ValueError``.

Scale note: images are independent, so the parallel unit is the
image and no cross-image state exists.
"""

from __future__ import annotations

import struct

import numpy as np

# interlace pass grid: (start row, step)
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))

# ITU-R 601-2 integer luma — the same contract as the JPEG/BMP decoders
_LUMA = (299, 587, 114)


# ------------------------------------------------------------------ LZW


def _lzw_decode(min_code_size: int, data: bytes, expected: int) -> bytearray:
    """GIF-variant LZW: little-endian bit packing, CLEAR/EOI codes,
    width grows from min_code_size+1 up to 12 bits. ``expected`` is
    the pixel count (stops exactly there; overruns are corrupt)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"GIF: invalid LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # dictionary: list of byte strings; entries < clear are literals
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("GIF: LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF: LZW code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF: LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) > expected:
            raise ValueError("GIF: LZW output exceeds image size")
        if len(out) == expected:
            break
    return out


def _lzw_encode(min_code_size: int, pixels: bytes) -> bytes:
    """Encoder twin of :func:`_lzw_decode`: emits CLEAR up front and at
    the 4096-entry cap, EOI at the end."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    cur = b""
    for b in pixels:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        # width grows when next_code EXCEEDS the current width's range
        # (the decoder grows its table one entry behind the encoder)
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        cur = bytes([b])
    if cur:
        emit(table[cur], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# -------------------------------------------------------------- decoder


def _sub_blocks(data: bytes, pos: int):
    """Concatenate GIF data sub-blocks; returns (bytes, pos after)."""
    out = bytearray()
    n = len(data)
    while True:
        if pos >= n:
            raise ValueError("GIF: truncated sub-block chain")
        size = data[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        if pos + size > n:
            raise ValueError("GIF: truncated sub-block")
        out += data[pos : pos + size]
        pos += size


def decode_gif(content: bytes):
    """Decode a GIF into composed frames.

    Returns ``(frames, palette_rgb, delays_ms, width, height)``:
    ``frames`` is a list of (height, width) uint8 arrays of indices
    into ``palette_rgb`` — each frame the FULL logical screen after
    composition (disposal 0/1 draw-over, 2 restore-to-background).
    Frames with a local palette are remapped into it per-frame, so
    ``palette_rgb`` is a per-frame list of (n, 3) uint8 arrays.

    DOCUMENTED LIMIT (ADVICE r8, kept under the codec freeze): the
    index+per-frame-palette model cannot represent a spec-valid
    animation where a later frame's SMALLER local color table must
    coexist with persisted pixels indexed into an earlier, larger
    palette — true GIF composition is per-frame in RGB space. Such
    inputs raise ``GIF: composed frame index outside color table``
    (taxonomy-tested) rather than mis-colour; composing to RGB at
    draw time would widen support but changes the return contract
    every consumer (luma, digests, encoder twins) is built on.
    """
    if len(content) < 13 or content[:4] != b"GIF8" or content[4:6] not in (
        b"7a",
        b"9a",
    ):
        raise ValueError("not a GIF: bad signature")
    width, height = struct.unpack("<HH", content[6:10])
    if not width or not height:
        raise ValueError("GIF: zero logical screen dimension")
    flags = content[10]
    bg_index = content[11]
    pos = 13
    global_pal = None
    if flags & 0x80:
        gct_size = 2 << (flags & 0x07)
        global_pal = np.frombuffer(
            content[pos : pos + 3 * gct_size], dtype=np.uint8
        ).reshape(-1, 3)
        if global_pal.shape[0] != gct_size:
            raise ValueError("GIF: truncated global color table")
        pos += 3 * gct_size
    # bg_index indexes the GLOBAL color table; real-world files set it
    # past the table (or with no table at all). Substitute 0 so screen
    # pixels a frame never covers stay in-range for whatever palette a
    # consumer indexes with — the per-rect pixel check below still
    # rejects genuinely corrupt image data.
    if global_pal is None or bg_index >= global_pal.shape[0]:
        bg_index = 0
    frames: list[np.ndarray] = []
    palettes: list[np.ndarray] = []
    delays: list[int] = []
    screen = np.full((height, width), bg_index, dtype=np.uint8)
    transparent = None
    delay_cs = 0
    disposal = 0
    n = len(content)
    while pos < n:
        block = content[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= n:
                raise ValueError("GIF: truncated extension")
            label = content[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                data, pos = _sub_blocks(content, pos)
                if len(data) < 4:
                    raise ValueError("GIF: short graphic control block")
                gc_flags = data[0]
                delay_cs = struct.unpack("<H", data[1:3])[0]
                transparent = data[3] if gc_flags & 0x01 else None
                disposal = (gc_flags >> 2) & 0x07
                if disposal == 3:
                    raise NotImplementedError(
                        "real media decode: GIF disposal method 3 "
                        "(restore to previous) unsupported"
                    )
            else:  # application / comment / plain text: skip
                _, pos = _sub_blocks(content, pos)
            continue
        if block != 0x2C:  # image descriptor
            raise ValueError(f"GIF: unexpected block 0x{block:02x}")
        if pos + 9 > n:
            raise ValueError("GIF: truncated image descriptor")
        left, top, fw, fh = struct.unpack("<HHHH", content[pos : pos + 8])
        iflags = content[pos + 8]
        pos += 9
        if left + fw > width or top + fh > height or not fw or not fh:
            raise ValueError("GIF: frame exceeds logical screen")
        pal = global_pal
        if iflags & 0x80:
            lct_size = 2 << (iflags & 0x07)
            pal = np.frombuffer(
                content[pos : pos + 3 * lct_size], dtype=np.uint8
            ).reshape(-1, 3)
            if pal.shape[0] != lct_size:
                raise ValueError("GIF: truncated local color table")
            pos += 3 * lct_size
        if pal is None:
            raise ValueError("GIF: frame without any color table")
        if pos >= n:
            raise ValueError("GIF: missing LZW minimum code size")
        min_code = content[pos]
        pos += 1
        data, pos = _sub_blocks(content, pos)
        idx = np.frombuffer(
            _lzw_decode(min_code, data, fw * fh), dtype=np.uint8
        )
        if idx.size != fw * fh:
            raise ValueError("GIF: LZW output shorter than image size")
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError("GIF: pixel index outside color table")
        rect = np.empty((fh, fw), dtype=np.uint8)
        if iflags & 0x40:  # interlaced: scatter the 4 passes
            rows = idx.reshape(fh, fw)
            r = 0
            for start, step in _INTERLACE:
                for y in range(start, fh, step):
                    rect[y] = rows[r]
                    r += 1
        else:
            rect = idx.reshape(fh, fw)
        region = screen[top : top + fh, left : left + fw]
        if transparent is not None:
            mask = rect != transparent
            region[mask] = rect[mask]
        else:
            region[:] = rect
        if int(screen.max()) >= pal.shape[0]:
            # composed screen holds an index from an earlier (larger)
            # palette that this frame's table cannot resolve — reject
            # with the documented taxonomy instead of letting a
            # consumer's palette lookup raise numpy IndexError
            raise ValueError("GIF: composed frame index outside color table")
        frames.append(screen.copy())
        palettes.append(pal.copy())
        delays.append(delay_cs * 10)
        if disposal == 2:  # restore to background
            screen[top : top + fh, left : left + fw] = bg_index
        transparent = None
        delay_cs = 0
        disposal = 0
    if not frames:
        raise ValueError("GIF: no image data decoded")
    return frames, palettes, delays, width, height


def decode_gif_luma(content: bytes, frame: int = 0) -> np.ndarray:
    """Per-pixel 8-bit luminance of one composed frame — the same
    601-2 integer luma contract as the JPEG and BMP decoders."""
    frames, palettes, _delays, _w, _h = decode_gif(content)
    if not -len(frames) <= frame < len(frames):
        raise ValueError(f"GIF: frame {frame} out of range")
    rgb = palettes[frame][frames[frame]].astype(np.int64)
    return (
        rgb[..., 0] * _LUMA[0] + rgb[..., 1] * _LUMA[1] + rgb[..., 2] * _LUMA[2]
    ) // 1000


# -------------------------------------------------------------- encoder


def _color_table_bits(n_colors: int) -> int:
    bits = 1
    while (2 << (bits - 1)) < n_colors:
        bits += 1
    if bits > 8:
        raise ValueError("GIF: more than 256 palette entries")
    return bits


def gif_encode(
    frames,
    palette,
    width: int,
    height: int,
    delays_ms=None,
    interlace: bool = False,
    transparent=None,
    bg_index: int = 0,
) -> bytes:
    """GIF89a encoder — the lossless test twin of :func:`decode_gif`.

    ``frames``: list of (height, width) uint8 index arrays (each a full
    logical screen; multi-frame output uses disposal 0 draw-over, so
    decode composition reproduces the inputs bit-exactly).
    ``palette``: (n, 3) uint8 RGB rows, padded to a power of two."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    palette = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    for f in frames:
        if f.shape != (height, width):
            raise ValueError("frame shape != (height, width)")
        if int(f.max()) >= palette.shape[0]:
            raise ValueError("frame index outside palette")
    bits = _color_table_bits(palette.shape[0])
    size = 2 << (bits - 1)
    padded = np.zeros((size, 3), dtype=np.uint8)
    padded[: palette.shape[0]] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (bits - 1), bg_index, 0])
    out += padded.tobytes()
    delays_ms = delays_ms or [0] * len(frames)
    min_code = max(2, bits)
    for f, delay in zip(frames, delays_ms):
        gc_flags = 0x01 if transparent is not None else 0x00
        out += bytes([0x21, 0xF9, 4, gc_flags])
        out += struct.pack("<H", max(0, delay // 10))
        out += bytes([transparent or 0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes([0x40 if interlace else 0x00])
        if interlace:
            rows = []
            for start, step in _INTERLACE:
                rows.extend(f[y] for y in range(start, height, step))
            pix = np.concatenate(rows).tobytes() if rows else b""
        else:
            pix = f.tobytes()
        out += bytes([min_code])
        lzw = _lzw_encode(min_code, pix)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
