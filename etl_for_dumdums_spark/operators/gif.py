"""GIF (87a/89a) and BMP codecs with zero external dependencies.

Extends the real-codec set (codecs.py: PNG/WAV) with two image formats
a web crawl yields in volume whose specs are implementable from first
principles in-container: GIF's compression is LZW — pure variable-width
bit arithmetic — and BMP is a BI_RGB DIB raster behind a 14-byte file
header.

Scope (stated, not hidden):

* ``decode_gif`` — GIF87a and GIF89a: global/local color tables,
  interlaced and sequential images, full LZW (variable code width,
  CLEAR/EOI, 4096-entry dictionary reset, deferred-clear streams),
  multi-frame animations with graphic-control extensions — frame
  delays, transparency, and disposal methods 0-3 (restore-to-
  background composes as transparent, the universal renderer
  behavior; 3 restores the prior canvas). Output is the COALESCED
  full-canvas RGBA snapshot per frame — the training-data shape.
* ``encode_gif`` — single- or multi-frame GIF89a from (h, w, 3|4)
  uint8 arrays; the palette is built from the frame's unique colors
  and images with more than 256 raise ``ValueError`` (no silent
  quantization — lossy prep belongs upstream, stated not hidden).
  Alpha<128 maps to a transparent index. Lossless roundtrip:
  decode(encode(x)) == x exactly for palette-sized inputs.
* ``decode_bmp`` / ``encode_bmp`` — BITMAPFILEHEADER + 40-byte
  BITMAPINFOHEADER: 24-bit BGR, 32-bit BGRA, and 8-bit paletted
  BI_RGB (bottom-up AND top-down rasters), plus BI_RLE8/BI_RLE4
  run-length decompression (encoded runs, absolute runs, end-of-line/
  end-of-bitmap, and delta escapes); ``encode_bmp_rle`` writes the
  encoded-run form of both RLE depths. Bitfield compression raises
  ``NotImplementedError``.
* ``decode_ico`` / ``encode_ico`` — the favicon container: entry
  directory over PNG-compressed images (decoded via codecs.decode_png)
  or ICO-DIBs (32/24/8/4/1-bit with the 1-bit AND transparency mask);
  decodes the largest entry by default. PNG files misnamed ``.ico`` —
  the classic web artifact — are rejected by ``is_ico`` and routed to
  the PNG decoder by image_payload_to_array. Verified against the real
  favicons the container ships.

Everything is deterministic byte arithmetic, so rgb_stats rows over
these formats are exact and reproducible.

Reference behavior being reproduced: the reference treats media as
opaque payload + typed metadata (SURVEY.md §2 multimodal plumbing);
these decoders make the image-decode stage real for two more formats.
"""

from __future__ import annotations

import struct


def is_gif(payload: bytes) -> bool:
    return (
        isinstance(payload, (bytes, bytearray))
        and len(payload) >= 6
        and bytes(payload[:6]) in (b"GIF87a", b"GIF89a")
    )


def is_bmp(payload: bytes) -> bool:
    return (
        isinstance(payload, (bytes, bytearray))
        and len(payload) >= 14
        and bytes(payload[:2]) == b"BM"
    )


# ---------------------------------------------------------------------------
# GIF LZW
# ---------------------------------------------------------------------------
def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int):
    """GIF-variant LZW: LSB-first bit packing, CLEAR/EOI codes, code width
    grows after the dictionary reaches 2^width, capped at 12 bits until
    the next CLEAR. Returns exactly n_pixels indices (extra data beyond
    EOI is ignored; truncated streams raise ValueError)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # bit reader state
    acc = 0
    nbits = 0
    pos = 0

    def reset_dict():
        d = [bytes((i,)) for i in range(clear)] + [b"", b""]
        return d

    table = reset_dict()
    width = min_code_size + 1
    prev: bytes | None = None
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = reset_dict()
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW: first code not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF LZW: code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise ValueError("GIF LZW: not enough pixel data")
    return bytes(out[:n_pixels])


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Inverse of _lzw_decode; emits CLEAR up front and resets the
    dictionary when it would exceed 4096 entries."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes((i,)): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for b in indices:
        wk = w + bytes((b,))
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            # decoder grows width when ITS table reaches 2^width; its table
            # size equals next_code, so grow when next_code hits 2^width
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {bytes((i,)): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes((b,))
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx_rows, h):
    order = []
    for start, step in _GIF_INTERLACE:
        order.extend(range(start, h, step))
    out = [None] * h
    for src, dst in enumerate(order):
        out[dst] = idx_rows[src]
    return out


# ---------------------------------------------------------------------------
# GIF decode
# ---------------------------------------------------------------------------
def decode_gif(payload: bytes):
    """→ (frames, delays_cs): coalesced (H, W, 4) uint8 RGBA canvas
    snapshots (logical-screen size) and per-frame delays in centiseconds
    (0 when no graphic-control extension)."""
    import numpy as np

    if not is_gif(payload):
        raise ValueError("not a GIF payload")
    buf = bytes(payload)
    if len(buf) < 13:
        raise ValueError("GIF header truncated")
    W, H, flags, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(buf[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n

    canvas = np.zeros((H, W, 4), dtype=np.uint8)
    frames: list = []
    delays: list = []
    transparent = None
    disposal = 0
    delay = 0

    def read_subblocks(p):
        parts = []
        while True:
            if p >= len(buf):
                raise ValueError("GIF sub-blocks truncated")
            n = buf[p]
            p += 1
            if n == 0:
                break
            parts.append(buf[p : p + n])
            p += n
        return b"".join(parts), p

    while pos < len(buf):
        block = buf[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = buf[pos]
            pos += 1
            data, pos = read_subblocks(pos)
            if label == 0xF9 and len(data) >= 4:  # graphic control
                packed, delay = data[0], struct.unpack_from("<H", data, 1)[0]
                disposal = (packed >> 2) & 0x07
                transparent = data[3] if packed & 0x01 else None
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")
        try:
            left, top, w, h, iflags = struct.unpack_from("<HHHHB", buf, pos)
        except struct.error:
            raise ValueError("GIF image descriptor truncated")
        if left + w > W or top + h > H:
            raise ValueError("GIF frame rect exceeds logical screen")
        pos += 9
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            ct = np.frombuffer(buf[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        else:
            ct = gct
        if ct is None:
            raise ValueError("GIF image has no color table")
        mcs = buf[pos]
        pos += 1
        data, pos = read_subblocks(pos)
        idx = np.frombuffer(_lzw_decode(data, mcs, w * h), dtype=np.uint8)
        if idx.max(initial=0) >= len(ct):
            raise ValueError("GIF pixel index outside color table")
        rows = idx.reshape(h, w)
        if iflags & 0x40:
            rows = np.stack(_deinterlace(list(rows), h))
        rgba = np.dstack([ct[rows], np.full((h, w), 255, dtype=np.uint8)])
        if transparent is not None:
            rgba[rows == transparent, 3] = 0

        saved = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + h, left : left + w]
        opaque = rgba[:, :, 3] == 255
        region[opaque] = rgba[opaque]
        frames.append(canvas.copy())
        delays.append(delay)
        if disposal == 2:  # restore to background → transparent, as rendered
            canvas[top : top + h, left : left + w] = 0
        elif disposal == 3 and saved is not None:
            canvas = saved
        transparent = None
        disposal = 0
        delay = 0
    if not frames:
        raise ValueError("GIF contains no image")
    return frames, delays


# ---------------------------------------------------------------------------
# GIF encode
# ---------------------------------------------------------------------------
def encode_gif(frames, delays_cs=None, loop: bool = True) -> bytes:
    """frames: one (h, w, 3|4) uint8 array or a sequence of equal-shape
    ones → GIF89a. Each frame's palette is its unique colors (>256 raises
    ValueError); alpha < 128 becomes a transparent index."""
    import numpy as np

    if hasattr(frames, "shape"):
        frames = [frames]
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("encode_gif needs at least one frame")
    h, w = frames[0].shape[:2]
    if any(f.ndim != 3 or f.shape[2] not in (3, 4) or f.shape[:2] != (h, w) for f in frames):
        raise ValueError("encode_gif expects equal-shape (h, w, 3|4) frames")
    delays = list(delays_cs) if delays_cs is not None else [0] * len(frames)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x00, 0, 0)  # no global color table
    if len(frames) > 1 and loop:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f, delay in zip(frames, delays):
        rgb = f[:, :, :3]
        alpha = f[:, :, 3] if f.shape[2] == 4 else None
        has_trans = alpha is not None and bool((alpha < 128).any())
        flat = rgb.reshape(-1, 3)
        if has_trans:
            # transparent pixels' RGB is never rendered — exclude it from
            # the palette so 256 opaque colors + transparency still fits
            opaque_mask = (alpha >= 128).reshape(-1)
            colors, inv_opaque = np.unique(
                flat[opaque_mask], axis=0, return_inverse=True
            )
            inverse = np.zeros(flat.shape[0], dtype=np.int64)
            inverse[opaque_mask] = inv_opaque
        else:
            colors, inverse = np.unique(flat, axis=0, return_inverse=True)
        n_needed = len(colors) + (1 if has_trans else 0)
        if n_needed > 256:
            raise ValueError(
                f"encode_gif: frame has {n_needed} palette entries (> 256); "
                "quantize upstream — this codec does not silently degrade"
            )
        depth = max(1, (int(n_needed - 1).bit_length()))
        table_n = 1 << depth
        idx = inverse.astype(np.uint8).reshape(h, w)
        trans_idx = None
        if has_trans:
            trans_idx = len(colors)
            idx = idx.copy()
            idx[alpha < 128] = trans_idx
        palette = np.zeros((table_n, 3), dtype=np.uint8)
        palette[: len(colors)] = colors
        if has_trans or delay or len(frames) > 1:
            packed = (0x01 if has_trans else 0x00) | (0x01 << 2)  # disposal 1
            out += b"\x21\xf9\x04" + bytes((packed,)) + struct.pack("<H", delay)
            out += bytes((trans_idx if has_trans else 0,)) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x80 | (depth - 1))
        out += palette.tobytes()
        mcs = max(2, depth)
        out.append(mcs)
        comp = _lzw_encode(idx.tobytes(), mcs)
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------
def encode_bmp(arr) -> bytes:
    """(h, w, 3|4) uint8 → BI_RGB BMP (24-bit BGR or 32-bit BGRA,
    bottom-up)."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError("encode_bmp expects (h, w, 3|4) uint8")
    h, w, ch = a.shape
    if ch == 3:
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)
        bits = 24
    else:
        stride = w * 4
        rows = a[::-1][:, :, [2, 1, 0, 3]].reshape(h, stride)
        bits = 32
    data = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bits, 0, len(data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + len(info) + len(data), 0, 0, 14 + len(info))
    return header + info + data


def _rle_runs(row):
    """→ [(length, value), ...] maximal runs of equal values in a 1-D
    uint8 row, each capped at 255 (the RLE count-byte limit)."""
    import numpy as np

    runs = []
    bounds = np.flatnonzero(np.diff(row)) + 1
    start = 0
    for end in list(bounds) + [len(row)]:
        n = end - start
        v = int(row[start])
        while n > 255:
            runs.append((255, v))
            n -= 255
        if n:
            runs.append((n, v))
        start = end
    return runs


def encode_bmp_rle(idx, palette, four_bit: bool = False) -> bytes:
    """(h, w) palette indices + (n, 3) RGB palette → BI_RLE8 (or BI_RLE4
    with ``four_bit``) BMP. Pure encoded-mode output (runs + EOL + EOB);
    the decoder additionally handles absolute/delta escapes, which are
    exercised by hand-built streams in tests."""
    import numpy as np

    a = np.ascontiguousarray(idx, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("encode_bmp_rle expects (h, w) palette indices")
    pal = np.ascontiguousarray(palette, dtype=np.uint8)
    depth = 4 if four_bit else 8
    if pal.ndim != 2 or pal.shape[1] != 3 or len(pal) > (1 << depth):
        raise ValueError(f"palette must be (<= {1 << depth}, 3) uint8")
    if a.max(initial=0) >= len(pal):
        raise ValueError("index outside palette")
    h, w = a.shape
    out = bytearray()
    for row in a[::-1]:  # bottom-up storage
        for n, v in _rle_runs(row):
            byte = ((v << 4) | v) if four_bit else v
            out += bytes((n, byte))
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    n_pal = 1 << depth
    pal_bytes = np.zeros((n_pal, 4), dtype=np.uint8)
    pal_bytes[: len(pal), :3] = pal[:, ::-1]  # RGB → BGRX
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, depth, 1 if not four_bit else 2,
        len(out), 2835, 2835, n_pal, 0,
    )
    data_off = 14 + len(info) + 4 * n_pal
    header = struct.pack("<2sIHHI", b"BM", data_off + len(out), 0, 0, data_off)
    return header + info + pal_bytes.tobytes() + bytes(out)


def encode_ico(arr) -> bytes:
    """(h, w, 3|4) uint8, both dims <= 256 → single-entry ICO with a
    32-bit BGRA DIB (doubled-height header + all-opaque AND mask), the
    shape decode_ico round-trips exactly."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError("encode_ico expects (h, w, 3|4) uint8")
    h, w = a.shape[:2]
    if h > 256 or w > 256 or h == 0 or w == 0:
        raise ValueError("ICO entries are 1..256 px per side")
    if a.shape[2] == 3:
        a = np.dstack([a, np.full((h, w), 255, dtype=np.uint8)])
    raster = a[::-1][:, :, [2, 1, 0, 3]].tobytes()  # bottom-up BGRA
    mask_stride = ((w + 31) // 32) * 4
    mask = b"\x00" * (mask_stride * h)  # AND mask all-opaque
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, 2 * h, 1, 32, 0, len(raster) + len(mask),
        2835, 2835, 0, 0,
    )
    dib = info + raster + mask
    entry = struct.pack(
        "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 32, len(dib), 6 + 16
    )
    return b"\x00\x00\x01\x00" + struct.pack("<H", 1) + entry + dib


def _bmp_rle_decode(data: bytes, w: int, h: int, four_bit: bool):
    """BI_RLE8/BI_RLE4 → (h, w) palette indices (storage order, i.e.
    bottom-up). Handles encoded runs, absolute mode (word-aligned),
    end-of-line (0,0), end-of-bitmap (0,1) and delta (0,2,dx,dy);
    pixels the stream never writes stay 0, the renderer convention."""
    import numpy as np

    out = np.zeros((h, w), dtype=np.uint8)
    x = y = pos = 0
    while pos + 1 < len(data) and y < h:
        n, v = data[pos], data[pos + 1]
        pos += 2
        if n > 0:  # encoded run
            if four_bit:
                pair = (v >> 4, v & 0x0F)
                run = [pair[i % 2] for i in range(n)]
            else:
                run = [v] * n
            end = min(x + n, w)
            out[y, x:end] = run[: end - x]
            x = end
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta
            if pos + 1 >= len(data):
                raise ValueError("BMP RLE delta truncated")
            x = min(x + data[pos], w)
            y += data[pos + 1]
            pos += 2
        else:  # absolute mode: v literal pixels, word-aligned
            if four_bit:
                nbytes = (v + 1) // 2
                lits = []
                for b in data[pos : pos + nbytes]:
                    lits.extend((b >> 4, b & 0x0F))
                lits = lits[:v]
            else:
                nbytes = v
                lits = list(data[pos : pos + nbytes])
            if len(lits) < v:
                raise ValueError("BMP RLE absolute run truncated")
            pos += nbytes + (nbytes & 1)  # pad to word boundary
            end = min(x + v, w)
            out[y, x:end] = lits[: end - x]
            x = end
    return out


def decode_bmp(payload: bytes):
    """→ (h, w, 3|4) uint8 RGB(A). BI_RGB 8 (paletted) / 24 / 32-bit,
    bottom-up or top-down, plus BI_RLE8/BI_RLE4 paletted."""
    import numpy as np

    if not is_bmp(payload):
        raise ValueError("not a BMP payload")
    buf = bytes(payload)
    if len(buf) < 54:
        raise ValueError("BMP header truncated")
    (_sig, _size, _r1, _r2, data_off) = struct.unpack_from("<2sIHHI", buf, 0)
    (hsize, w, h_raw, _planes, bits, comp) = struct.unpack_from("<IiiHHI", buf, 14)
    if hsize < 40:
        raise NotImplementedError("BMP: pre-BITMAPINFOHEADER core headers unsupported")
    if comp not in (0, 1, 2):
        raise NotImplementedError(f"BMP: biCompression={comp} unsupported")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError("BMP: bad dimensions")
    if comp in (1, 2):  # BI_RLE8 / BI_RLE4
        if top_down:
            raise ValueError("BMP: RLE bitmaps cannot be top-down")
        if (comp == 1 and bits != 8) or (comp == 2 and bits != 4):
            raise ValueError(f"BMP: RLE{8 if comp == 1 else 4} requires matching depth")
        (used,) = struct.unpack_from("<I", buf, 14 + 32)
        n = used or (1 << bits)
        pal = np.frombuffer(buf[14 + hsize : 14 + hsize + 4 * n], dtype=np.uint8)
        pal = pal.reshape(-1, 4)[:, [2, 1, 0]]
        rows = _bmp_rle_decode(buf[data_off:], w, h, four_bit=(comp == 2))
        if rows.max(initial=0) >= len(pal):
            raise ValueError("BMP pixel index outside palette")
        return np.ascontiguousarray(pal[rows][::-1])
    if bits == 8:
        (used,) = struct.unpack_from("<I", buf, 14 + 32)
        n = used or 256
        pal = np.frombuffer(buf[14 + hsize : 14 + hsize + 4 * n], dtype=np.uint8)
        pal = pal.reshape(n, 4)[:, [2, 1, 0]]  # BGRX → RGB
        stride = (w + 3) & ~3
        raster = np.frombuffer(buf[data_off : data_off + stride * h], dtype=np.uint8)
        if raster.size < stride * h:
            raise ValueError("BMP raster truncated")
        rows = raster.reshape(h, stride)[:, :w]
        if rows.max(initial=0) >= n:
            raise ValueError("BMP pixel index outside palette")
        img = pal[rows]
    elif bits in (24, 32):
        px = bits // 8
        stride = (w * px + 3) & ~3
        raster = np.frombuffer(buf[data_off : data_off + stride * h], dtype=np.uint8)
        if raster.size < stride * h:
            raise ValueError("BMP raster truncated")
        rows = raster.reshape(h, stride)[:, : w * px].reshape(h, w, px)
        img = rows[:, :, [2, 1, 0]] if px == 3 else rows[:, :, [2, 1, 0, 3]]
    else:
        raise NotImplementedError(f"BMP: {bits}-bit depth unsupported")
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


# ---------------------------------------------------------------------------
# ICO (favicons) — a directory over images we already decode: each entry
# is either an embedded PNG (codecs.decode_png) or a BMP-style DIB with
# doubled height and a 1-bit AND transparency mask.
# ---------------------------------------------------------------------------
def is_ico(payload: bytes) -> bool:
    return (
        isinstance(payload, (bytes, bytearray))
        and len(payload) >= 6
        and bytes(payload[:4]) == b"\x00\x00\x01\x00"
        and struct.unpack_from("<H", payload, 4)[0] > 0
    )


def decode_ico(payload: bytes, index: int | None = None):
    """→ (h, w, 4) uint8 RGBA of the chosen entry (default: the largest).

    Entries are PNG-compressed (modern favicons) or ICO-DIB: a
    BITMAPINFOHEADER whose biHeight covers image + AND mask, 32-bit BGRA
    or 24/8/4/1-bit color with the 1-bit AND mask supplying transparency.
    Unsupported entry depths raise NotImplementedError."""
    import numpy as np

    if not is_ico(payload):
        raise ValueError("not an ICO payload")
    buf = bytes(payload)
    (n,) = struct.unpack_from("<H", buf, 4)
    entries = []
    for i in range(n):
        w8, h8, _ncol, _r, _planes, _bits, size, off = struct.unpack_from(
            "<BBBBHHII", buf, 6 + 16 * i
        )
        entries.append((w8 or 256, h8 or 256, size, off))
    if index is None:
        index = max(range(n), key=lambda i: entries[i][0] * entries[i][1])
    if not 0 <= index < n:
        raise ValueError("ICO entry index out of range")
    w, h, size, off = entries[index]
    data = buf[off : off + size]
    from .codecs import decode_png, is_png

    if is_png(data):
        a = decode_png(data)
        if a.shape[2] == 3:
            a = np.dstack([a, np.full(a.shape[:2], 255, dtype=np.uint8)])
        return a
    # ICO-DIB: header height is image + mask
    (hsize, biw, bih, _planes2, bits, comp) = struct.unpack_from("<IiiHHI", data, 0)
    if comp != 0:
        raise NotImplementedError("ICO: compressed DIB entries unsupported")
    if bits not in (32, 24, 8, 4, 1):
        raise NotImplementedError(f"ICO: {bits}-bit DIB unsupported")
    height = bih // 2 if bih == 2 * h or bih == 2 * (h if h else 256) else bih
    height = height or h
    pos = hsize
    pal = None
    if bits <= 8:
        ncolors = 1 << bits
        pal = np.frombuffer(data[pos : pos + 4 * ncolors], dtype=np.uint8)
        pal = pal.reshape(ncolors, 4)[:, [2, 1, 0]]
        pos += 4 * ncolors
    if bits == 32:
        stride = w * 4
        raster = np.frombuffer(data[pos : pos + stride * height], dtype=np.uint8)
        img = raster.reshape(height, w, 4)[:, :, [2, 1, 0, 3]][::-1]
        rgba = np.ascontiguousarray(img)
        pos += stride * height
        # 32-bit entries may still carry an AND mask; alpha channel wins
        # when non-degenerate (all-zero alpha means "use the mask")
        if rgba[:, :, 3].any():
            return rgba
    else:
        per_row_bits = w * bits
        stride = ((per_row_bits + 31) // 32) * 4
        raster = np.frombuffer(data[pos : pos + stride * height], dtype=np.uint8)
        rows = raster.reshape(height, stride)
        if bits == 8:
            idx = rows[:, :w]
        else:
            unpacked = np.unpackbits(rows, axis=1)
            if bits == 1:
                idx = unpacked[:, :w]
            else:  # 4-bit: regroup pairs of nibbles
                nib = unpacked.reshape(height, -1, 4)
                idx = (nib * [8, 4, 2, 1]).sum(axis=2)[:, :w].astype(np.uint8)
        if idx.max(initial=0) >= len(pal):
            raise ValueError("ICO palette index out of range")
        rgb = pal[idx][::-1]
        rgba = np.dstack([rgb, np.full((height, w), 255, dtype=np.uint8)])
        rgba = np.ascontiguousarray(rgba)
        pos += stride * height
    # apply the 1-bit AND mask (1 = transparent), bottom-up
    mask_stride = ((w + 31) // 32) * 4
    mask_bytes = data[pos : pos + mask_stride * height]
    if len(mask_bytes) == mask_stride * height:
        mrows = np.frombuffer(mask_bytes, dtype=np.uint8).reshape(height, mask_stride)
        mask = np.unpackbits(mrows, axis=1)[:, :w][::-1]
        rgba = rgba.copy()
        rgba[mask == 1, 3] = 0
    return rgba


def encode_ico(images) -> bytes:
    """One or more (h, w, 4) uint8 RGBA arrays → ICO with PNG-compressed
    entries (the modern favicon form; h/w <= 256)."""
    from .codecs import encode_png

    if hasattr(images, "shape"):
        images = [images]
    blobs = []
    dims = []
    for a in images:
        h, w = a.shape[:2]
        if h > 256 or w > 256:
            raise ValueError("ICO entries are limited to 256x256")
        blobs.append(encode_png(a))
        dims.append((w, h))
    out = bytearray(struct.pack("<HHH", 0, 1, len(blobs)))
    off = 6 + 16 * len(blobs)
    for (w, h), b in zip(dims, blobs):
        out += struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 32, len(b), off
        )
        off += len(b)
    for b in blobs:
        out += b
    return bytes(out)
