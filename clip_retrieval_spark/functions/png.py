"""Pure-stdlib PNG codec (zlib + RFC 2083 scanline filters).

The container has no PIL/ffmpeg, but PNG needs neither: the format is
DEFLATE (stdlib zlib) plus five byte-prediction filters. This gives the
multimodal operators one REAL codec — decode, pixel stats, thumbnail
resize, re-encode — upgrading the image path from shape-only stubs to
value-real on PNG while JPEG/video stay declared stubs (their codecs
are genuinely absent here).

Supported: 8-bit depth; color types 0 (gray), 2 (RGB), 3 (palette ->
RGB), 4 (gray+alpha), 6 (RGBA); filters 0-4. Adam7 interlace raises
NotImplementedError (rare in web corpora; a real cluster adds PIL).
CRCs are verified — corrupt bytes must raise, that is the error path
``extract_features`` audits (ok=false rows).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
GRID = 4  # grid_luminance_features: GRID x GRID cells


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytearray:
    """Reverse the per-scanline byte predictors (filters 0-4)."""
    out = bytearray(height * stride)
    prev = bytearray(stride)
    pos = 0
    for y in range(height):
        if pos + 1 + stride > len(raw):
            raise ValueError("truncated image data")
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if f == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"bad filter type {f}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 pixel array (H, W, C). Raises ValueError on
    anything malformed (bad signature/CRC/truncation) — the corrupt-row
    contract of the multimodal operators."""
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise ValueError("not bytes")
    data = bytes(data)
    if not data.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bitdepth = colortype = interlace = None
    idat = bytearray()
    palette = None
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):  # chunk or its CRC truncated
            raise ValueError("truncated chunk")
        chunk = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + chunk) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r}")
        if ctype == b"IHDR":
            (width, height, bitdepth, colortype, _comp, _filt,
             interlace) = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"PLTE":
            palette = chunk
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if interlace:
        raise NotImplementedError("Adam7 interlace not supported")
    if bitdepth != 8 or colortype not in _CHANNELS:
        raise NotImplementedError(
            f"bitdepth={bitdepth} colortype={colortype} not supported"
        )
    ch = _CHANNELS[colortype]
    bpp = ch  # bytes per pixel at depth 8
    stride = width * bpp
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:  # corrupt DEFLATE stream
        raise ValueError(f"bad IDAT stream: {exc}") from exc
    px = _unfilter(raw, height, stride, bpp)
    try:
        arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(
            height, width, ch
        )
    except ValueError as exc:
        raise ValueError(f"pixel data does not match IHDR dims: {exc}")
    if colortype == 3:
        if palette is None:
            raise ValueError("palette image without PLTE")
        if len(palette) % 3:
            raise ValueError("PLTE length not a multiple of 3")
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        idxs = arr[:, :, 0]
        if int(idxs.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        arr = pal[idxs]
    return arr


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 (H, W) or (H, W, C in {1,2,3,4}) -> PNG bytes (filter 0)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    stride_rows = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), a.reshape(h, w * ch)], axis=1
    )  # filter byte 0 per scanline
    idat = zlib.compress(stride_rows.tobytes(), 6)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (the PIL.Image.NEAREST analog)."""
    h, w = arr.shape[0], arr.shape[1]
    ri = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    ci = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[ri][:, ci]


def grid_luminance_features(arr: np.ndarray) -> np.ndarray:
    """Real image feature: mean luminance over a GRID x GRID partition,
    in [0,1] float64 (GRID*GRID dims). Deterministic, content-derived."""
    a = arr.astype(np.float64)
    if a.ndim == 3 and a.shape[2] >= 3:
        lum = 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    else:
        lum = a[:, :, 0] if a.ndim == 3 else a
    h, w = lum.shape
    out = np.empty(GRID * GRID, dtype=np.float64)
    for gy in range(GRID):
        for gx in range(GRID):
            ys = slice(gy * h // GRID, max((gy + 1) * h // GRID, gy * h // GRID + 1))
            xs = slice(gx * w // GRID, max((gx + 1) * w // GRID, gx * w // GRID + 1))
            out[gy * GRID + gx] = lum[ys, xs].mean() / 255.0
    return out
