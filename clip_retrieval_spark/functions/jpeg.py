"""Pure-stdlib JPEG codec: baseline (SOF0) and progressive (SOF2),
ITU T.81 sequential + progressive DCT.

The reference decodes JPEG on every inference path via PIL
(reference clip_inference/reader.py:101,163); PIL is absent in this
container, and JPEG is public knowledge: canonical Huffman entropy
coding + 8x8 DCT + zigzag quantization, with progressive adding
spectral selection and successive approximation (T.81 Annex G). This
module implements the subsets web images overwhelmingly use — baseline
and progressive, 8-bit, 1 or 3 components, 4:4:4 / 4:2:2 / 4:2:0
sampling, restart markers, EOBn run-length codes — so JPEG payloads in
the multimodal operators yield REAL pixels, mirroring functions/png.py.

Unsupported variants raise NotImplementedError explicitly: arithmetic
coding, 12-bit depth, hierarchical, lossless. Malformed input raises
ValueError (the corrupt-row contract of the multimodal operators).

Performance note: entropy decode is a per-bit Python loop — fine for
the thumbnail-sized fixtures the tests and Pandas-UDF batches handle;
the operators' contract documents swapping in a native codec on a real
cluster (operators/multimodal.py module docstring).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag position -> raster index within an 8x8 block (T.81 fig. A.6)
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# T.81 Annex K quantization tables (quality 50 anchors)
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# T.81 Annex K typical Huffman tables: (bits[1..16], huffval). Both
# sides of this codec read tables from the DHT segments in the file, so
# these constants only pin what the ENCODER emits.
DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
AC_LUMA = (
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
AC_CHROMA = (
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


def _dct_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix C: F = C @ f @ C.T, f = C.T @ F @ C."""
    k = np.arange(8).reshape(-1, 1)
    n = np.arange(8).reshape(1, -1)
    c = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2 / 8)
    c[0, :] = np.sqrt(1 / 8)
    return c


_C = _dct_basis()


# ---------------------------------------------------------------------------
# Huffman machinery (canonical codes from (bits, huffval), T.81 C.2)


def _canonical_codes(bits: list[int], huffval: list[int]):
    """[(length, code, symbol)] in canonical order."""
    out = []
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out.append((length, code, huffval[i]))
            code += 1
            i += 1
        code <<= 1
    return out


class _HuffDecoder:
    """(length, code) -> symbol lookup for bitwise decode."""

    def __init__(self, bits: list[int], huffval: list[int]):
        if sum(bits) != len(huffval):
            raise ValueError("DHT counts disagree with symbol list")
        self.lut = {
            (ln, code): sym for ln, code, sym in _canonical_codes(bits, huffval)
        }

    def decode(self, br: "_BitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing.

    Stops at any non-stuffing marker; ``at_marker()`` exposes it so the
    MCU loop can consume RSTn."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self):
        if self.marker is not None:
            raise ValueError("entropy data ended at marker")
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy data")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed 0xFF
            else:
                self.marker = nxt
                self.pos += 1
                raise ValueError("entropy data ended at marker")
        # _fill only runs at nbits == 0, so the buffer is exactly one
        # byte — assigning (not accumulating) keeps the int small and
        # decode O(n) in entropy-stream length
        self.bitbuf = b
        self.nbits = 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_to_marker(self) -> int:
        """Discard pad bits, consume the next marker, return its code."""
        self.bitbuf = 0
        self.nbits = 0
        if self.marker is None:
            while self.pos + 1 < len(self.data):
                if (
                    self.data[self.pos] == 0xFF
                    and self.data[self.pos + 1] != 0x00
                ):
                    self.marker = self.data[self.pos + 1]
                    self.pos += 2
                    break
                self.pos += 1
            else:
                raise ValueError("expected marker in entropy data")
        m, self.marker = self.marker, None
        return m


def _extend(v: int, size: int) -> int:
    """T.81 F.12: magnitude bits -> signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------------------
# Decoder


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 pixel array (H, W, C), C = 1 or 3 (RGB).

    Raises ValueError on malformed input, NotImplementedError on
    non-baseline variants (progressive, arithmetic, 12-bit)."""
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise ValueError("not bytes")
    data = bytes(data)
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")

    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    frame = None  # (height, width, components)
    restart_interval = 0
    progressive = False
    prog = None  # progressive state: coefficient store + layout
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # T.81 B.1.1.2: optional 0xFF fill bytes
            pos += 1
            continue
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (SOI / TEM / stray RSTn): no segment
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT
            s = 0
            while s < len(seg):
                pq, tq = seg[s] >> 4, seg[s] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.frombuffer(
                    seg[s + 1 : s + 65], dtype=np.uint8
                ).astype(np.int64)
                if len(tbl) != 64:
                    raise ValueError("short DQT")
                dq = np.zeros(64, dtype=np.int64)
                dq[ZIGZAG] = tbl
                qt[tq] = dq.reshape(8, 8)
                s += 65
        elif marker == 0xC4:  # DHT
            s = 0
            while s < len(seg):
                if s + 17 > len(seg):
                    raise ValueError("truncated DHT")
                tc, th = seg[s] >> 4, seg[s] & 0xF
                bits = list(seg[s + 1 : s + 17])
                nsym = sum(bits)
                if s + 17 + nsym > len(seg):
                    raise ValueError("truncated DHT")
                huffval = list(seg[s + 17 : s + 17 + nsym])
                dec = _HuffDecoder(bits, huffval)
                (huff_dc if tc == 0 else huff_ac)[th] = dec
                s += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if len(seg) < 6:
                raise ValueError("truncated SOF")
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit precision")
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated SOF")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0xF <= 4):
                    raise ValueError(f"bad sampling factor {hv:#04x}")
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            frame = (h, w, comps)
            if marker == 0xC2:
                progressive = True
                prog = _prog_init(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline frame type SOF{marker - 0xC0}"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated DRI")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0] if seg else 0
            if ns == 0 or len(seg) < 1 + 2 * ns + 3:
                raise ValueError("short SOS header")
            if progressive:
                scan = []
                for i in range(ns):
                    cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                    scan.append((cs, tt >> 4, tt & 0xF))
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                a = seg[3 + 2 * ns]
                pos = _decode_prog_scan(
                    data, pos + 2 + seglen, prog, scan, ss, se,
                    a >> 4, a & 0xF, huff_dc, huff_ac, restart_interval,
                )
                continue
            scan_sel = {}
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_sel[cs] = (tt >> 4, tt & 0xF)
            return _decode_scan(
                data, pos + 2 + seglen, frame, scan_sel, qt,
                huff_dc, huff_ac, restart_interval,
            )
        elif marker == 0xD9:
            break
        pos += 2 + seglen
    if progressive and prog is not None and prog["scans"] > 0:
        # a trailing EOI has no length field, so the segment loop may
        # exit before consuming it — accept it at `pos` directly; a
        # stream that ends between scans WITHOUT an EOI is truncated
        if data[pos : pos + 2] != b"\xff\xd9":
            raise ValueError("truncated progressive stream (missing EOI)")
        return _prog_reconstruct(prog, qt)
    raise ValueError("missing SOS")


def _decode_scan(data, pos, frame, scan_sel, qt, huff_dc, huff_ac,
                 restart_interval):
    height, width, comps = frame
    if not comps or height == 0 or width == 0:
        raise ValueError("empty frame")
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    if max_h not in (1, 2) or max_v not in (1, 2):
        raise NotImplementedError("sampling factors beyond 2x2")
    mcus_x = -(-width // (8 * max_h))
    mcus_y = -(-height // (8 * max_v))
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcus_y * 8 * c["v"], mcus_x * 8 * c["h"]),
                     dtype=np.float64)
        )
        if c["id"] not in scan_sel:
            raise NotImplementedError("multi-scan (progressive-style) SOS")

    br = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                m = br.sync_to_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError(f"expected RST marker, got {m:#x}")
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                td, ta = scan_sel[c["id"]]
                dq = qt.get(c["tq"])
                dc = huff_dc.get(td)
                ac = huff_ac.get(ta)
                if dq is None or dc is None or ac is None:
                    raise ValueError("missing quant/Huffman table")
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = _decode_block(br, dc, ac, preds, ci)
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = blk
                        pix = (
                            _C.T @ (coef.reshape(8, 8) * dq) @ _C
                        ) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu += 1

    return _assemble(comps, planes, max_h, max_v, height, width)


def _assemble(comps, planes, max_h, max_v, height, width) -> np.ndarray:
    """Sample-resolution float planes -> cropped uint8 image (shared by
    the baseline and progressive reconstruction paths)."""
    out_planes = []
    for c, pl in zip(comps, planes):
        ry, rx = max_v // c["v"], max_h // c["h"]
        if ry > 1 or rx > 1:
            pl = np.repeat(np.repeat(pl, ry, axis=0), rx, axis=1)
        out_planes.append(pl[:height, :width])
    if len(comps) == 1:
        gray = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    if len(comps) != 3:
        raise NotImplementedError(f"{len(comps)}-component JPEG")
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_block(br, dc, ac, preds, ci) -> np.ndarray:
    blk = np.zeros(64, dtype=np.int64)
    size = dc.decode(br)
    if size > 11:
        raise ValueError("DC size out of range")
    preds[ci] += _extend(br.receive(size), size)
    blk[0] = preds[ci]
    k = 1
    while k < 64:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        blk[k] = _extend(br.receive(s), s)
        k += 1
    return blk


# ---------------------------------------------------------------------------
# Progressive decoder (SOF2: spectral selection + successive
# approximation, T.81 Annex G). Scans accumulate quantized coefficients
# into per-component block stores; IDCT happens once after the last
# scan, so the result is bit-identical to a baseline decode of the same
# final coefficients.


def _prog_init(frame) -> dict:
    height, width, comps = frame
    if not comps or height == 0 or width == 0:
        raise ValueError("empty frame")
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    if max_h not in (1, 2) or max_v not in (1, 2):
        raise NotImplementedError("sampling factors beyond 2x2")
    mcus_x = -(-width // (8 * max_h))
    mcus_y = -(-height // (8 * max_v))
    coefs, dims = [], []
    for c in comps:
        # MCU-padded store (interleaved DC scans touch pad blocks);
        # non-interleaved scans cover only the actual block grid.
        coefs.append(
            np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
        )
        comp_h = -(-height * c["v"] // max_v)
        comp_w = -(-width * c["h"] // max_h)
        dims.append((-(-comp_h // 8), -(-comp_w // 8)))
    return {
        "frame": frame,
        "max_h": max_h,
        "max_v": max_v,
        "mcus_x": mcus_x,
        "mcus_y": mcus_y,
        "coefs": coefs,
        "dims": dims,
        "scans": 0,
    }


def _decode_prog_scan(data, pos, prog, scan, ss, se, ah, al,
                      huff_dc, huff_ac, restart_interval) -> int:
    """Decode one progressive scan; return the byte offset of the next
    marker (its 0xFF) so the segment loop can resume."""
    height, width, comps = prog["frame"]
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    sel = []  # (component index, DC decoder, AC decoder)
    for cs, td, ta in scan:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        ci = by_id[cs]
        dc = ac = None
        if ss == 0 and ah == 0:
            dc = huff_dc.get(td)
            if dc is None:
                raise ValueError("missing DC Huffman table")
        if ss > 0:
            ac = huff_ac.get(ta)
            if ac is None:
                raise ValueError("missing AC Huffman table")
        sel.append((ci, dc, ac))
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se = 0")
    if ss > 0 and len(sel) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if se > 63 or ss > se:
        raise ValueError("bad spectral band")

    br = _BitReader(data, pos)
    preds = [0] * len(sel)
    eobrun = 0
    unit = 0  # restart unit: MCU (interleaved) or block (single-comp)

    def _restart():
        nonlocal preds, eobrun
        m = br.sync_to_marker()
        if not (0xD0 <= m <= 0xD7):
            raise ValueError(f"expected RST marker, got {m:#x}")
        preds = [0] * len(sel)
        eobrun = 0

    if ss == 0 and len(sel) > 1:  # interleaved DC scan
        for my in range(prog["mcus_y"]):
            for mx in range(prog["mcus_x"]):
                if restart_interval and unit and unit % restart_interval == 0:
                    _restart()
                for si, (ci, dc, _) in enumerate(sel):
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blk = prog["coefs"][ci][
                                my * c["v"] + by, mx * c["h"] + bx
                            ]
                            if ah == 0:
                                size = dc.decode(br)
                                if size > 11:
                                    raise ValueError("DC size out of range")
                                preds[si] += _extend(br.receive(size), size)
                                blk[0] = preds[si] << al
                            elif br.read_bit():
                                blk[0] |= 1 << al
                unit += 1
    else:  # single-component scan (DC or AC) over the actual block grid
        ci, dc, ac = sel[0]
        bya, bxa = prog["dims"][ci]
        store = prog["coefs"][ci]
        for by in range(bya):
            for bx in range(bxa):
                if restart_interval and unit and unit % restart_interval == 0:
                    _restart()
                blk = store[by, bx]
                if ss == 0:
                    if ah == 0:
                        size = dc.decode(br)
                        if size > 11:
                            raise ValueError("DC size out of range")
                        preds[0] += _extend(br.receive(size), size)
                        blk[0] = preds[0] << al
                    elif br.read_bit():
                        blk[0] |= 1 << al
                elif ah == 0:
                    eobrun = _prog_ac_first(br, ac, blk, ss, se, al, eobrun)
                else:
                    eobrun = _prog_ac_refine(br, ac, blk, ss, se, al, eobrun)
                unit += 1

    prog["scans"] += 1
    # locate the next marker for the segment loop
    if br.marker is not None:
        return br.pos - 2
    p = br.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            return p
        p += 1
    return len(data)


def _prog_ac_first(br, ac, blk, ss, se, al, eobrun) -> int:
    """First AC pass for one block (T.81 G.1.2.2): run/size symbols with
    EOBn run-length codes; values enter at magnitude << Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += br.receive(r)
                return eobrun - 1  # the run includes this block
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _extend(br.receive(s), s) << al
        k += 1
    return 0


def _prog_ac_refine(br, ac, blk, ss, se, al, eobrun) -> int:
    """AC refinement pass for one block (T.81 G.1.2.3): one new bit of
    precision — newly significant coefficients arrive as +/-(1 << Al),
    already-significant ones receive a correction bit."""
    p1 = 1 << al
    m1 = -1 << al

    def correct(kk):
        if br.read_bit() and (int(blk[kk]) & p1) == 0:
            blk[kk] += p1 if blk[kk] >= 0 else m1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = ac.decode(br)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("bad AC refinement symbol")
                newval = p1 if br.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if newval:
                if k > se:
                    raise ValueError("AC refinement run past band end")
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _prog_reconstruct(prog, qt) -> np.ndarray:
    """Dequantize + IDCT the accumulated coefficient stores and
    assemble the final image (vectorized over all blocks)."""
    height, width, comps = prog["frame"]
    planes = []
    for ci, c in enumerate(comps):
        dq = qt.get(c["tq"])
        if dq is None:
            raise ValueError("missing quant table")
        zz = prog["coefs"][ci]
        by, bx, _ = zz.shape
        raster = np.zeros((by, bx, 64), dtype=np.float64)
        raster[:, :, ZIGZAG] = zz
        blocks = raster.reshape(by, bx, 8, 8) * dq.reshape(8, 8)
        pix = np.einsum("ij,abjk,kl->abil", _C.T, blocks, _C) + 128.0
        planes.append(
            pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
    return _assemble(
        comps, planes, prog["max_h"], prog["max_v"], height, width
    )


# ---------------------------------------------------------------------------
# Encoder (baseline JFIF; fixture generator + re-encode path)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _dht_payload(tc: int, th: int, table) -> bytes:
    bits, huffval = table
    return bytes([tc << 4 | th]) + bytes(bits) + bytes(huffval)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of an Annex-K table."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255)


def _encode_value(v: int):
    """(size, magnitude-bits) for a signed coefficient."""
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v


def _plan_frame(arr: np.ndarray, quality: int, subsampling: str) -> dict:
    """Shared encoder front half: validate, color-transform, subsample,
    pad to the MCU grid, DCT + quantize every block. Returns the frame
    layout plus per-component zigzag coefficient stores — the single
    source both the baseline and progressive entropy coders read, which
    is what makes their decoded pixels bit-identical."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3):
        raise ValueError("expected (H, W), (H, W, 1) or (H, W, 3)")
    if arr.dtype != np.uint8:
        raise ValueError("expected uint8")
    h, w, nc = arr.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"unknown subsampling {subsampling!r}")
    if nc == 1:
        samp = [(1, 1)]
    else:
        samp = {
            "444": [(1, 1), (1, 1), (1, 1)],
            "422": [(2, 1), (1, 1), (1, 1)],
            "420": [(2, 2), (1, 1), (1, 1)],
        }[subsampling]
    max_h = max(s[0] for s in samp)
    max_v = max(s[1] for s in samp)

    # color transform
    f = arr.astype(np.float64)
    if nc == 3:
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        full = [y, cb, cr]
    else:
        full = [f[:, :, 0]]

    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    quants = [ql] + ([qc, qc] if nc == 3 else [])
    qids = [0] + ([1, 1] if nc == 3 else [])

    # per-component planes at their sampling resolution, padded to MCU
    # grid, then DCT + quantize all blocks at once
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))
    zzs, dims = [], []
    for ci, ((sh, sv), pf) in enumerate(zip(samp, full)):
        ry, rx = max_v // sv, max_h // sh
        if ry > 1 or rx > 1:  # box-average downsample
            ph = -(-pf.shape[0] // ry) * ry
            pw = -(-pf.shape[1] // rx) * rx
            pad = np.pad(pf, ((0, ph - pf.shape[0]), (0, pw - pf.shape[1])),
                         mode="edge")
            pf = pad.reshape(ph // ry, ry, pw // rx, rx).mean(axis=(1, 3))
        dims.append((-(-pf.shape[0] // 8), -(-pf.shape[1] // 8)))
        th_, tw_ = mcus_y * 8 * sv, mcus_x * 8 * sh
        pf = np.pad(
            pf,
            ((0, th_ - pf.shape[0]), (0, tw_ - pf.shape[1])),
            mode="edge",
        ) - 128.0
        by, bx = th_ // 8, tw_ // 8
        blocks = pf.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ij,abjk,lk->abil", _C, blocks, _C)
        dq = quants[qids[ci]].reshape(8, 8).astype(np.float64)
        q = np.round(coef / dq).astype(np.int64)
        zzs.append(q.reshape(by, bx, 64)[:, :, ZIGZAG])
    return {
        "h": h, "w": w, "nc": nc, "samp": samp,
        "max_h": max_h, "max_v": max_v,
        "mcus_x": mcus_x, "mcus_y": mcus_y,
        "ql": ql, "qc": qc, "qids": qids,
        "zzs": zzs, "dims": dims,
    }


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W), (H, W, 1) or (H, W, 3) -> baseline JFIF bytes.

    ``subsampling``: "444", "422", or "420" (3-component only).
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (exercises the decoder's restart path)."""
    plan = _plan_frame(arr, quality, subsampling)
    h, w, nc = plan["h"], plan["w"], plan["nc"]
    samp, qids = plan["samp"], plan["qids"]
    max_h, max_v = plan["max_h"], plan["max_v"]
    mcus_x, mcus_y = plan["mcus_x"], plan["mcus_y"]
    ql, qc, zzs = plan["ql"], plan["qc"], plan["zzs"]

    enc_dc = [
        {s: (ln, code) for ln, code, s in _canonical_codes(*t)}
        for t in ((DC_LUMA, DC_CHROMA) if nc == 3 else (DC_LUMA,))
    ]
    enc_ac = [
        {s: (ln, code) for ln, code, s in _canonical_codes(*t)}
        for t in ((AC_LUMA, AC_CHROMA) if nc == 3 else (AC_LUMA,))
    ]
    tids = [0] + ([1, 1] if nc == 3 else [])

    bw = _BitWriter()
    preds = [0] * nc
    mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = [0] * nc
            for ci, (sh, sv) in enumerate(samp):
                dct = enc_dc[tids[ci]]
                act = enc_ac[tids[ci]]
                for by in range(sv):
                    for bx in range(sh):
                        zz = zzs[ci][my * sv + by, mx * sh + bx]
                        # DC
                        diff = int(zz[0]) - preds[ci]
                        preds[ci] = int(zz[0])
                        size, bitsv = _encode_value(diff)
                        ln, code = dct[size]
                        bw.write(code, ln)
                        if size:
                            bw.write(bitsv, size)
                        # AC
                        run = 0
                        last = np.nonzero(zz[1:])[0]
                        last_k = int(last[-1]) + 1 if len(last) else 0
                        for k in range(1, last_k + 1):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                ln, code = act[0xF0]  # ZRL
                                bw.write(code, ln)
                                run -= 16
                            size, bitsv = _encode_value(v)
                            ln, code = act[run << 4 | size]
                            bw.write(code, ln)
                            bw.write(bitsv, size)
                            run = 0
                        if last_k < 63:
                            ln, code = act[0x00]  # EOB
                            bw.write(code, ln)
            mcu += 1
    bw.flush()

    out = bytearray(b"\xff\xd8")
    out += _seg(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    # ql is raster-order; DQT stores zigzag order: tbl_zz[i] = ql[ZIGZAG[i]]
    out += _seg(0xDB, bytes([0x00]) + bytes(int(ql[z]) for z in ZIGZAG))
    if nc == 3:
        out += _seg(0xDB, bytes([0x01]) + bytes(int(qc[z]) for z in ZIGZAG))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for i, (sh, sv) in enumerate(samp):
        sof += bytes([i + 1, sh << 4 | sv, qids[i]])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, _dht_payload(0, 0, DC_LUMA))
    out += _seg(0xC4, _dht_payload(1, 0, AC_LUMA))
    if nc == 3:
        out += _seg(0xC4, _dht_payload(0, 1, DC_CHROMA))
        out += _seg(0xC4, _dht_payload(1, 1, AC_CHROMA))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, tids[i] << 4 | tids[i]])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (SOF2 fixture generator). Emits a libjpeg-style
# scan script — DC first at reduced precision, per-component AC bands,
# then successive-approximation refinement scans down to full precision
# — so every decoder path (spectral selection, EOBn runs, ZRL, DC and
# AC refinement) is exercised by round-trip tests. Each scan carries
# its own flat Huffman table built from a dry-run symbol count: every
# observed symbol gets an equal-length canonical code (valid, incomplete
# tree; compression is irrelevant for fixtures, the DECODER reads
# whatever DHT says).

_MAX_EOBRUN = 0x7FFF


def _flat_table(symbols) -> tuple[list[int], list[int]]:
    syms = sorted(symbols)
    n = max(1, len(syms))
    length = n.bit_length()  # 2^length > n: incomplete tree, no all-1s code
    bits = [0] * 16
    bits[length - 1] = len(syms)
    return bits, syms


def _scan_script(nc: int) -> list[tuple[list[int], int, int, int, int]]:
    """[(component indices, Ss, Se, Ah, Al)] — full precision reached
    for every band by the end."""
    if nc == 1:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


class _ProgACState:
    """Cross-block EOBRUN + buffered-correction-bit state for one AC
    scan (T.81 G.1.2.2-3 encoder side)."""

    def __init__(self, emit_sym, emit_bits):
        self.emit_sym = emit_sym
        self.emit_bits = emit_bits
        self.eobrun = 0
        self.pending = []  # correction bits owed after the next symbol

    def flush_eob(self):
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.emit_sym(r << 4)
            if r:
                self.emit_bits(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.pending:
            self.emit_bits(b, 1)
        self.pending = []

    def end_block(self, extra_bits):
        self.pending.extend(extra_bits)
        self.eobrun += 1
        if self.eobrun == _MAX_EOBRUN:
            self.flush_eob()


def _enc_ac_first(zz, ss, se, al, st: _ProgACState):
    run = 0
    emitted = False
    for k in range(ss, se + 1):
        v = int(zz[k])
        mag = (v if v >= 0 else -v) >> al
        if mag == 0:
            run += 1
            continue
        st.flush_eob()
        emitted = True
        while run > 15:
            st.emit_sym(0xF0)
            run -= 16
        size = mag.bit_length()
        bitsv = mag if v >= 0 else (-mag + (1 << size) - 1)
        st.emit_sym(run << 4 | size)
        st.emit_bits(bitsv, size)
        run = 0
    if run > 0 or not emitted:
        st.end_block([])


def _enc_ac_refine(zz, ss, se, al, st: _ProgACState):
    absv = [(abs(int(zz[k])) >> al) for k in range(ss, se + 1)]
    eob = ss - 1  # index of the last newly-significant coefficient
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    run = 0
    cur_bits = []  # correction bits owed within this block
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            run += 1
            continue
        # flush ZRLs first (before buffering this position's bit) so the
        # decoder's positional walk consumes correction bits in order;
        # runs reaching past the last newly-significant coefficient fold
        # into the EOB instead
        while run > 15 and k <= eob:
            st.flush_eob()
            st.emit_sym(0xF0)
            run -= 16
            for b in cur_bits:
                st.emit_bits(b, 1)
            cur_bits = []
        if t > 1:  # previously significant: buffer its correction bit
            cur_bits.append((abs(int(zz[k])) >> al) & 1)
            continue
        st.flush_eob()
        st.emit_sym(run << 4 | 1)
        st.emit_bits(1 if int(zz[k]) >= 0 else 0, 1)
        for b in cur_bits:
            st.emit_bits(b, 1)
        cur_bits = []
        run = 0
    if run > 0 or cur_bits:
        st.end_block(cur_bits)


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 90, subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W), (H, W, 1) or (H, W, 3) -> progressive (SOF2) JFIF
    bytes. Same quantized coefficients as ``encode_jpeg`` — decoding
    both yields bit-identical pixels.

    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    restart units per scan (MCUs for the interleaved DC scan, blocks
    for single-component scans), flushing the EOB run and resetting DC
    predictors at each — exercises the progressive decoder's restart
    path."""
    plan = _plan_frame(arr, quality, subsampling)
    h, w, nc = plan["h"], plan["w"], plan["nc"]
    samp, qids = plan["samp"], plan["qids"]
    mcus_x, mcus_y = plan["mcus_x"], plan["mcus_y"]
    ql, qc, zzs, dims = plan["ql"], plan["qc"], plan["zzs"], plan["dims"]

    out = bytearray(b"\xff\xd8")
    out += _seg(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += _seg(0xDB, bytes([0x00]) + bytes(int(ql[z]) for z in ZIGZAG))
    if nc == 3:
        out += _seg(0xDB, bytes([0x01]) + bytes(int(qc[z]) for z in ZIGZAG))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for i, (sh, sv) in enumerate(samp):
        sof += bytes([i + 1, sh << 4 | sv, qids[i]])
    out += _seg(0xC2, sof)

    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))

    for comp_idx, ss, se, ah, al in _scan_script(nc):
        # two passes over the identical emission sequence: dry (symbol
        # census -> flat DHT), then real (entropy bytes). mark_restart
        # is a no-op in the dry pass; both passes share the state
        # resets so the symbol sequences stay identical.
        def run_scan(emit_sym, emit_bits, mark_restart):
            unit = 0
            preds = [0] * len(comp_idx)
            st = _ProgACState(emit_sym, emit_bits)

            def boundary():
                nonlocal unit
                if (
                    restart_interval
                    and unit
                    and unit % restart_interval == 0
                ):
                    st.flush_eob()  # EOB runs must not cross a restart
                    mark_restart()
                    preds[:] = [0] * len(comp_idx)
                unit += 1

            if ss == 0:
                if len(comp_idx) > 1:  # interleaved DC over the MCU grid
                    for my in range(mcus_y):
                        for mx in range(mcus_x):
                            boundary()
                            for si, ci in enumerate(comp_idx):
                                sh, sv = samp[ci]
                                for by in range(sv):
                                    for bx in range(sh):
                                        zz = zzs[ci][my * sv + by,
                                                     mx * sh + bx]
                                        _enc_dc(zz, si, preds, ah, al,
                                                emit_sym, emit_bits)
                else:
                    ci = comp_idx[0]
                    bya, bxa = dims[ci]
                    for by in range(bya):
                        for bx in range(bxa):
                            boundary()
                            _enc_dc(zzs[ci][by, bx], 0, preds, ah, al,
                                    emit_sym, emit_bits)
            else:
                ci = comp_idx[0]
                bya, bxa = dims[ci]
                enc = _enc_ac_first if ah == 0 else _enc_ac_refine
                for by in range(bya):
                    for bx in range(bxa):
                        boundary()
                        enc(zzs[ci][by, bx], ss, se, al, st)
                st.flush_eob()

        census: set[int] = set()
        run_scan(lambda s: census.add(s), lambda v, n: None, lambda: None)
        enc_table = None
        if census:
            bits, syms = _flat_table(census)
            tc = 0 if ss == 0 else 1
            out += _seg(0xC4, _dht_payload(tc, 0, (bits, syms)))
            enc_table = {
                s: (ln, code) for ln, code, s in _canonical_codes(bits, syms)
            }
        bw = _BitWriter()
        rst_n = 0

        def emit_sym(s):
            ln, code = enc_table[s]
            bw.write(code, ln)

        def mark_restart():
            nonlocal rst_n
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + (rst_n & 7)])
            rst_n += 1

        run_scan(emit_sym, bw.write, mark_restart)
        bw.flush()
        sos = bytes([len(comp_idx)])
        for ci in comp_idx:
            sos += bytes([ci + 1, 0x00])  # Td = Ta = 0 (fresh DHT per scan)
        sos += bytes([ss, se, ah << 4 | al])
        out += _seg(0xDA, sos)
        out += bw.out

    out += b"\xff\xd9"
    return bytes(out)


def _enc_dc(zz, si, preds, ah, al, emit_sym, emit_bits):
    if ah == 0:
        v = int(zz[0]) >> al  # arithmetic shift: matches decoder's << Al
        diff = v - preds[si]
        preds[si] = v
        size, bitsv = _encode_value(diff)
        emit_sym(size)
        if size:
            emit_bits(bitsv, size)
    else:
        emit_bits((int(zz[0]) >> al) & 1, 1)


JPEG_SOI = b"\xff\xd8"


def is_jpeg(data: bytes) -> bool:
    return len(data) >= 2 and bytes(data[:2]) == JPEG_SOI
