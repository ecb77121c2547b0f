"""AVI/MJPEG container codec (functions/avi.py) + the value-real video
path through the multimodal operators: real frame sampling, keyframe
features, first-frame thumbnails. Mirrors test_wav.py / test_jpeg.py:
pixel goldens, corrupt-input contract, fuzz, Spark integration."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from clip_retrieval_spark.functions.avi import (
    decode_avi,
    encode_avi_mjpeg,
    is_avi,
)
from clip_retrieval_spark.functions.jpeg import decode_jpeg, encode_jpeg


def _frames(n=5, h=24, w=32):
    out = []
    yy, xx = np.mgrid[0:h, 0:w]
    for i in range(n):
        base = ((xx * 5 + yy * 3 + i * 40) % 256).astype(np.uint8)
        out.append(np.stack([base, base // 2, 255 - base], axis=-1))
    return out


def test_roundtrip_pixel_exact():
    frames = _frames()
    d = decode_avi(encode_avi_mjpeg(frames, fps=10.0, quality=92))
    assert len(d["frames"]) == len(frames)
    assert (d["width"], d["height"]) == (32, 24)
    assert d["fps"] == pytest.approx(10.0, rel=1e-3)
    for f, src in zip(d["frames"], frames):
        # frame bytes are real baseline JPEGs of the source pixels
        assert np.array_equal(
            decode_jpeg(f), decode_jpeg(encode_jpeg(src, quality=92))
        )


def test_extra_chunks_tolerated():
    enc = bytearray(encode_avi_mjpeg(_frames(2), fps=5.0))
    junk = b"JUNK" + struct.pack("<I", 7) + b"padding" + b"\x00"
    i = bytes(enc).index(b"LIST")
    patched = bytes(enc[:i]) + junk + bytes(enc[i:])
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert len(decode_avi(patched)["frames"]) == 2


def test_corrupt_inputs_raise_valueerror():
    good = encode_avi_mjpeg(_frames(2))
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")  # wrong RIFF form
    with pytest.raises(ValueError):
        decode_avi(good[: len(good) // 2])  # truncated movi
    with pytest.raises(ValueError):
        decode_avi(b"")


def test_non_mjpeg_codec_raises_notimplemented():
    enc = bytearray(encode_avi_mjpeg(_frames(2)))
    i = bytes(enc).index(b"vidsMJPG")
    enc[i + 4 : i + 8] = b"cvid"
    with pytest.raises(NotImplementedError):
        decode_avi(bytes(enc))


def test_fuzz_decoder_never_leaks_exceptions():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = encode_avi_mjpeg(_frames(2, h=8, w=8), fps=5.0)

    @settings(max_examples=150, deadline=None)
    @given(
        pos=st.integers(0, len(base) - 1),
        val=st.integers(0, 255),
        cut=st.integers(0, len(base)),
    )
    def _one(pos, val, cut):
        mutated = bytearray(base[:cut] or b"\x00")
        if pos < len(mutated):
            mutated[pos] = val
        try:
            decode_avi(bytes(mutated))
        except (ValueError, NotImplementedError):
            pass

    _one()


def test_spark_video_frames_features_thumbnails(spark):
    """End-to-end: an MJPEG AVI yields REAL sampled frames (decodable
    JPEGs matching source pixels), keyframe-derived features, and a
    real first-frame thumbnail; a non-MJPG AVI falls back to the digest
    stub driven by meta_duration_ms."""
    from clip_retrieval_spark.functions.png import grid_luminance_features
    from clip_retrieval_spark.operators.multimodal import (
        extract_features,
        resize_thumbnails,
        sample_frames,
    )

    frames = _frames(n=6, h=40, w=40)
    payload = encode_avi_mjpeg(frames, fps=2.0, quality=95)  # 3 s of video
    stub = bytearray(encode_avi_mjpeg(frames[:2], fps=2.0))
    i = bytes(stub).index(b"vidsMJPG")
    stub[i + 4 : i + 8] = b"cvid"
    rows = [
        (1, "video", bytearray(payload), 40, 40, 3000),
        (2, "video", bytes(stub), 40, 40, 2500),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, meta_width int, "
        "meta_height int, meta_duration_ms int",
    )

    sampled = sample_frames(media).collect()
    by_id = {}
    for r in sampled:
        by_id.setdefault(r["media_id"], []).append(r)
    # real AVI: 3 s at 1 frame/s -> 3 frames, each a decodable JPEG of
    # the right source frame (i seconds in at 2 fps -> frame 2i)
    real = sorted(by_id[1], key=lambda r: r["frame_idx"])
    assert len(real) == 3
    for i_f, r in enumerate(real):
        pix = decode_jpeg(bytes(r["frame"]))
        want = decode_jpeg(encode_jpeg(frames[i_f * 2], quality=95))
        assert np.array_equal(pix, want)
    # non-MJPG: digest stub, meta-driven count (2500 // 1000 = 2)
    assert len(by_id[2]) == 2
    assert len(bytes(by_id[2][0]["frame"])) == 16  # blake2b digest

    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    kf = decode_jpeg(encode_jpeg(frames[0], quality=95))
    want = grid_luminance_features(kf)
    want = want / np.linalg.norm(want)
    got = np.array(feats[1]["feature"], dtype=np.float64)
    assert feats[1]["ok"] is True
    assert np.abs(got - want).max() < 1e-6
    assert feats[2]["ok"] is True  # declared-unsupported codec -> stub

    thumbs = {r["media_id"]: r for r in resize_thumbnails(media, 16).collect()}
    t1 = decode_jpeg(bytes(thumbs[1]["thumb"]))
    assert t1.shape == (16, 16, 3)
    assert abs(float(t1.mean()) - float(kf.mean())) < 12.0
