"""Baseline-JFIF JPEG codec (functions/jpeg.py) + the real-codec
multimodal JPEG paths. Mirrors tests/test_png.py: pixel-golden
roundtrips with explicit error bounds (JPEG is lossy; quality 95 on
smooth content bounds per-pixel error tightly), corrupt-input contract,
and the Spark operators producing real JPEG pixels."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from clip_retrieval_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
    is_jpeg,
)


def _gradient(h=24, w=40):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            xx * 255 // max(w - 1, 1),
            yy * 255 // max(h - 1, 1),
            (xx + yy) * 255 // max(w + h - 2, 1),
        ],
        axis=-1,
    ).astype(np.uint8)


@pytest.mark.parametrize(
    "subsampling,maxerr", [("444", 3), ("422", 6), ("420", 12)]
)
def test_roundtrip_rgb(subsampling, maxerr):
    img = _gradient()
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsampling=subsampling))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= maxerr


def test_roundtrip_gray():
    g = _gradient()[:, :, 1]
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec.shape == (*g.shape, 1)
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max() <= 2


def test_non_multiple_of_mcu_dims():
    # 13x7 with 4:2:0 exercises MCU padding + crop on both axes; the
    # gradient is steep at these dims (255 across 7 px) so subsampled
    # chroma is legitimately lossy — the 4:4:4 run on the SAME dims
    # pins the geometry handling tightly.
    img = _gradient(h=13, w=7)
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsampling="420"))
    assert dec.shape == (13, 7, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 10.0
    dec444 = decode_jpeg(encode_jpeg(img, quality=95, subsampling="444"))
    assert dec444.shape == (13, 7, 3)
    assert np.abs(dec444.astype(int) - img.astype(int)).mean() < 1.5


def test_restart_markers_roundtrip():
    img = _gradient(h=32, w=32)
    enc = encode_jpeg(img, quality=95, restart_interval=2)
    assert b"\xff\xd0" in enc or b"\xff\xd1" in enc  # RSTn really emitted
    dec = decode_jpeg(enc)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3


def test_high_quality_noise_is_near_lossless():
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(noise, quality=100))
    assert np.abs(dec.astype(int) - noise.astype(int)).max() <= 3


def test_corrupt_inputs_raise_valueerror():
    good = encode_jpeg(_gradient())
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated entropy data
    with pytest.raises(ValueError):
        decode_jpeg(good[:20])  # truncated in headers
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no frame


@pytest.mark.parametrize("subsampling", ["444", "422", "420"])
def test_progressive_matches_baseline_bit_exact(subsampling):
    """Progressive (SOF2) and baseline (SOF0) encode the SAME quantized
    coefficients, so decoding both must give bit-identical pixels —
    any defect in spectral selection, successive approximation, EOBn
    runs, or refinement bits breaks this equality."""
    img = _gradient()
    base = decode_jpeg(encode_jpeg(img, quality=90, subsampling=subsampling))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, quality=90, subsampling=subsampling)
    )
    assert np.array_equal(base, prog)


def test_progressive_gray_and_odd_dims_bit_exact():
    g = _gradient()[:, :, 1]
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, quality=95)),
        decode_jpeg(encode_jpeg_progressive(g, quality=95)),
    )
    # 13x7 @ 4:2:0: MCU padding + the non-interleaved actual-block-grid
    # iteration differ from the interleaved DC grid — crop must agree
    odd = _gradient(h=13, w=7)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(odd, quality=95, subsampling="420")),
        decode_jpeg(encode_jpeg_progressive(odd, quality=95,
                                            subsampling="420")),
    )


def test_progressive_noise_exercises_refinement_bits():
    # dense spectra force correction bits in every AC refinement scan
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(noise, quality=75, subsampling="420")),
        decode_jpeg(encode_jpeg_progressive(noise, quality=75,
                                            subsampling="420")),
    )


def test_progressive_flat_image_exercises_eobn_runs():
    # all-AC-zero blocks accumulate EOB runs > 1, so the stream carries
    # EOBn (r > 0) symbols — verify one is really present, then decode
    const = np.full((48, 64, 3), 130, dtype=np.uint8)
    enc = encode_jpeg_progressive(const, quality=90)
    assert b"\xff\xc2" in enc  # really SOF2
    pos, eobn = 2, False
    while pos + 4 <= len(enc):
        if enc[pos] != 0xFF or enc[pos + 1] in (0x01, 0xD8):
            pos += 2 if enc[pos] == 0xFF else 1
            continue
        m = enc[pos + 1]
        if m == 0xD9:
            break
        (ln,) = struct.unpack(">H", enc[pos + 2 : pos + 4])
        seg = enc[pos + 4 : pos + 2 + ln]
        if m == 0xC4 and seg[0] >> 4 == 1:  # AC-class DHT
            n = sum(seg[1:17])
            eobn = eobn or any(
                s & 0xF == 0 and 0 < s >> 4 < 15
                for s in seg[17 : 17 + n]
            )
        pos += 2 + ln
        if m == 0xDA:  # skip entropy data to the next marker
            while pos + 1 < len(enc) and not (
                enc[pos] == 0xFF and enc[pos + 1] != 0x00
            ):
                pos += 1
    assert eobn
    assert np.array_equal(
        decode_jpeg(enc), decode_jpeg(encode_jpeg(const, quality=90))
    )


def test_progressive_restart_markers_bit_exact():
    """RSTn inside progressive scans: EOB runs must flush at each
    restart and DC predictors reset — the decoder's per-scan restart
    path must land on the same coefficients as the unrestarted stream."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (29, 37, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=85, subsampling="420"))
    for ri in (1, 3):
        enc = encode_jpeg_progressive(
            img, quality=85, subsampling="420", restart_interval=ri
        )
        assert b"\xff\xdd" in enc  # DRI really emitted
        assert any(bytes([0xFF, 0xD0 + i]) in enc for i in range(8))
        assert np.array_equal(base, decode_jpeg(enc))


def test_baseline_scan_header_in_progressive_frame_rejected():
    # flip SOF0 -> SOF2 on a baseline stream: the SOS then claims a
    # full-band DC scan (Ss=0, Se=63), illegal in progressive mode
    good = bytearray(encode_jpeg(_gradient()))
    i = bytes(good).index(b"\xff\xc0")
    good[i + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(good))


def test_progressive_truncated_raises_valueerror():
    enc = encode_jpeg_progressive(_gradient(h=16, w=16), quality=90)
    with pytest.raises(ValueError):
        decode_jpeg(enc[: len(enc) * 2 // 3])


def test_is_jpeg():
    assert is_jpeg(encode_jpeg(_gradient()))
    assert not is_jpeg(b"\x89PNG")
    assert not is_jpeg(b"")


def test_spark_jpeg_features_and_thumbnails(spark):
    """End-to-end through the Spark operators: a JPEG payload yields a
    content-derived feature vector (not a digest) and a real JPEG
    thumbnail whose pixels track the source — multimodal is value-real
    on BOTH still-image formats now."""
    from clip_retrieval_spark.functions.png import grid_luminance_features
    from clip_retrieval_spark.operators.multimodal import (
        extract_features,
        resize_thumbnails,
    )

    img = _gradient(h=40, w=40)
    payload = encode_jpeg(img, quality=95)
    prog_payload = encode_jpeg_progressive(img, quality=95)
    rows = [
        (1, "image", bytearray(payload), 40, 40, None),
        (2, "image", bytearray(b"\xff\xd8 corrupt jpeg"), 8, 8, None),
        (3, "image", bytearray(prog_payload), 40, 40, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, meta_width int, "
        "meta_height int, meta_duration_ms int",
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    # content-derived: matches grid luminance of the SOURCE pixels
    want = grid_luminance_features(img)
    want = want / np.linalg.norm(want)
    got = np.array(feats[1]["feature"], dtype=np.float64)
    assert feats[1]["ok"] is True
    assert np.abs(got - want).max() < 0.02
    # a corrupt JPEG is a corrupt row (real decoders raise), not a stub
    assert feats[2]["ok"] is False
    # a PROGRESSIVE payload decodes for real too — same content-derived
    # features as the baseline encoding of the same pixels
    got3 = np.array(feats[3]["feature"], dtype=np.float64)
    assert feats[3]["ok"] is True
    assert np.abs(got3 - want).max() < 0.02

    thumbs = {
        r["media_id"]: r for r in resize_thumbnails(media, 16).collect()
    }
    t1 = decode_jpeg(bytes(thumbs[1]["thumb"]))  # format-preserving
    assert t1.shape == (16, 16, 3)
    assert abs(t1.mean() - img.mean()) < 8.0


def test_fill_bytes_and_standalone_markers_tolerated():
    # T.81 B.1.1.2 permits 0xFF fill bytes before any marker, and TEM
    # (0x01) is a standalone marker with no length field — both occur
    # in wild encoder output and must not be parsed as segments
    good = encode_jpeg(_gradient(h=16, w=16))
    i = bytes(good).index(b"\xff\xdb")
    patched = good[:i] + b"\xff\xff\xff\x01" + good[i:]
    dec = decode_jpeg(patched)
    assert dec.shape == (16, 16, 3)


def test_decode_is_linear_in_entropy_bytes():
    # regression: the bit reader once accumulated the whole entropy
    # stream into one growing bignum (O(n^2)); a ~100 KB stream must
    # decode in seconds, not hours
    import time

    rng = np.random.default_rng(3)
    img = np.clip(
        np.cumsum(rng.normal(0, 8, (256, 256, 3)), axis=1) + 128, 0, 255
    ).astype(np.uint8)
    enc = encode_jpeg(img, quality=90)
    assert len(enc) > 30_000
    t0 = time.monotonic()
    decode_jpeg(enc)
    assert time.monotonic() - t0 < 30.0


def test_truncated_marker_segments_raise_valueerror_regression():
    """Pinned replay of the round-5 fuzz failure (pos=161, val=2,
    cut=162 on the progressive stream): a stream cut inside a marker
    segment must raise ValueError, never IndexError/struct.error —
    multimodal's corrupt-row catch only handles ValueError."""
    prog = encode_jpeg_progressive(_gradient(h=16, w=16), quality=90)
    mutated = bytearray(prog[:162])
    if len(mutated) > 161:
        mutated[161] = 2
    with pytest.raises((ValueError, NotImplementedError)):
        decode_jpeg(bytes(mutated))
    # sweep every cut point through the header region of both streams
    base = encode_jpeg(_gradient(h=16, w=16), quality=90)
    for src in (base, prog):
        for cut in range(0, min(len(src), 700)):
            try:
                decode_jpeg(src[:cut])
            except (ValueError, NotImplementedError):
                pass


def test_fuzz_decoder_never_hangs_or_leaks_exceptions():
    """Property: arbitrary mutations of a valid stream either decode or
    raise ValueError/NotImplementedError — never IndexError/struct
    .error/zlib.error/infinite loop (the corrupt-row contract)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = encode_jpeg(_gradient(h=16, w=16), quality=90)
    prog = encode_jpeg_progressive(_gradient(h=16, w=16), quality=90)

    @settings(max_examples=150, deadline=None)
    @given(
        pick=st.booleans(),
        pos=st.integers(0, max(len(base), len(prog)) - 1),
        val=st.integers(0, 255),
        cut=st.integers(0, max(len(base), len(prog))),
    )
    def _one(pick, pos, val, cut):
        src = base if pick else prog
        mutated = bytearray(src[:cut] or b"\x00")
        if pos < len(mutated):
            mutated[pos] = val
        try:
            decode_jpeg(bytes(mutated))
        except (ValueError, NotImplementedError):
            pass

    _one()


@pytest.mark.parametrize("progressive", [False, True])
def test_zero_sampling_factor_and_empty_sos_are_corrupt(progressive):
    """A SOF component with sampling factor 0 and an SOS with no
    components are corrupt headers: ValueError, not ZeroDivisionError or
    IndexError."""
    enc = encode_jpeg_progressive if progressive else encode_jpeg
    data = bytearray(enc(_gradient(h=16, w=16), quality=90))
    sof = data.find(b"\xff\xc2" if progressive else b"\xff\xc0")
    bad = bytearray(data)
    bad[sof + 4 + 6 + 1] = 0x00  # first component's H/V byte
    with pytest.raises(ValueError, match="sampling factor"):
        decode_jpeg(bytes(bad))
    sos = data.find(b"\xff\xda")
    empty = bytes(data[:sos]) + b"\xff\xda\x00\x02" + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg(empty)
