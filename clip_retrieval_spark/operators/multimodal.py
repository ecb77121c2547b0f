"""Multimodal columns: opaque binary payloads + typed metadata.

The reference's in-flight unit is (image bytes + caption + metadata)
(reference clip_inference/reader.py:158-178); here media are BinaryType
columns with a struct of typed metadata, and all per-item work runs in
Arrow-batched ``mapInPandas`` with the decoder constructed once per
Python worker (the mapper init-once pattern, mapper.py:16-48).

Codec status: PNG decode/resize/re-encode is REAL (pure-stdlib zlib +
filter codec, functions/png.py), and JPEG decode/encode is REAL too
(pure-stdlib Huffman + DCT codec, functions/jpeg.py: baseline SOF0
AND progressive SOF2 with spectral selection + successive
approximation, 1/3 components, 4:4:4/4:2:2/4:2:0, restart markers) —
both formats yield actual pixels, grid-luminance features, and real
resized thumbnails. Audio / video kernels remain deterministic STUBS
(clearly marked; exotic JPEG variants — arithmetic, 12-bit — raise
NotImplementedError in the codec and fall through to the stub here);
the Spark-side plumbing — schema, batch shape, UDF signatures,
partitioning — is real and tested for all kinds. Swap the stub bodies
for PIL/ffmpeg calls on a real cluster; nothing else changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clip_retrieval_spark.functions import avi, jpeg, png, wav

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, meta_width int, "
    "meta_height int, meta_duration_ms int"
)

FEATURES_FIELDS = "media_id long, kind string, feature array<float>, ok boolean"
THUMB_FIELDS = "media_id long, thumb binary, width int, height int"
FRAMES_FIELDS = "media_id long, frame_idx int, frame binary"

_FEATURE_DIM = 16  # 16 x 4 bytes == blake2b's max digest size
FRAME_EVERY_MS = 1000  # sample_frames: one frame per second of video


def _decode_image(payload: bytes) -> np.ndarray:
    """Image -> 16-dim feature vector.

    PNG and JPEG (baseline + progressive) payloads are REALLY decoded
    (functions/png.py: zlib + filter unprediction, CRC-verified;
    functions/jpeg.py: canonical Huffman + 8x8 IDCT, multi-scan
    coefficient accumulation for SOF2) and featurized as 4x4 grid
    luminance means; WAV audio payloads are REALLY decoded too
    (functions/wav.py: RIFF/PCM/IEEE-float/G.711) and featurized as
    RMS envelope + zero-crossing + spectral bands — content-derived
    values, not hashes. Other formats (and codec variants declared
    unsupported, e.g. arithmetic-coded JPEG, ADPCM WAV) fall back to
    the deterministic STUB (blake2b
    pseudo-pixels; real impl: PIL.Image.open). Raises on empty/corrupt
    payload the way a real decoder raises on corrupt bytes (exercises
    the error path)."""
    if not payload:
        raise ValueError("empty payload")
    if payload[: len(png.PNG_SIGNATURE)] == png.PNG_SIGNATURE:
        return png.grid_luminance_features(png.decode_png(payload))
    if jpeg.is_jpeg(payload):
        try:
            return png.grid_luminance_features(jpeg.decode_jpeg(payload))
        except NotImplementedError:
            pass  # arithmetic/12-bit etc. -> deterministic stub below
    if wav.is_wav(payload):
        try:
            return wav.waveform_features(*wav.decode_wav(payload))
        except NotImplementedError:
            pass  # ADPCM/extensible etc. -> deterministic stub below
    if avi.is_avi(payload):
        try:
            first = avi.decode_avi(payload)["frames"][0]
            return png.grid_luminance_features(jpeg.decode_jpeg(first))
        except NotImplementedError:
            pass  # non-MJPG codecs -> deterministic stub below
        except IndexError:
            raise ValueError("AVI with zero frames")
    # STUB for remaining formats (exotic-JPEG/compressed-audio/non-MJPG)
    h = hashlib.blake2b(payload, digest_size=_FEATURE_DIM * 4).digest()
    arr = np.frombuffer(h, dtype=np.uint32).astype(np.float64)
    return arr / 2**32


def extract_features(media: DataFrame) -> DataFrame:
    """media -> unit-norm feature vectors; corrupt rows yield ok=false
    with a null feature instead of being dropped silently (contrast:
    the reference drops corrupt rows in collate, reader.py:101-104 —
    unauditable at scale)."""

    def _go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # heavyweight model/codec would be constructed HERE, once
        for pdf in batches:
            feats, oks = [], []
            for payload in pdf["payload"]:
                try:
                    v = _decode_image(bytes(payload) if payload else b"")
                    n = float(np.linalg.norm(v))
                    feats.append(
                        (v / n if n else v).astype(np.float32)
                    )
                    oks.append(True)
                except Exception:
                    feats.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "ok": oks,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _go, schema=FEATURES_FIELDS
    )


def resize_thumbnails(media: DataFrame, size: int = 64) -> DataFrame:
    """Thumbnails: PNG payloads get a REAL nearest-neighbor resize to
    size x size re-encoded as PNG (functions/png.py); baseline-JFIF
    JPEG payloads likewise, re-encoded as JPEG (functions/jpeg.py,
    format-preserving); other formats fall back to the deterministic
    digest STUB (real impl: PIL.resize()). Plumbing (binary->binary
    batch UDF, metadata passthrough) is real for all kinds."""

    def _one(p, size: int) -> bytes:
        b = bytes(p) if p else b""
        if b[: len(png.PNG_SIGNATURE)] == png.PNG_SIGNATURE:
            try:
                arr = png.decode_png(b)
                return png.encode_png(png.resize_nearest(arr, size, size))
            except Exception:
                pass  # corrupt PNG -> digest fallback, same as non-PNG
        elif jpeg.is_jpeg(b):
            try:
                arr = jpeg.decode_jpeg(b)
                return jpeg.encode_jpeg(png.resize_nearest(arr, size, size))
            except Exception:
                pass  # corrupt/unsupported-variant JPEG -> digest fallback
        elif avi.is_avi(b):
            try:  # video thumbnail = resized first (key)frame as JPEG
                arr = jpeg.decode_jpeg(avi.decode_avi(b)["frames"][0])
                return jpeg.encode_jpeg(png.resize_nearest(arr, size, size))
            except Exception:
                pass  # corrupt/non-MJPG AVI -> digest fallback
        return hashlib.blake2b(b, digest_size=min(size, 64)).digest()

    def _go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = [_one(p, size) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "thumb": thumbs,
                    "width": [size] * len(pdf),
                    "height": [size] * len(pdf),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        _go, schema=THUMB_FIELDS
    )


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video rows (flatMap shape: 1 row in, N rows
    out — the UDTF/explode pattern).

    MJPEG-in-AVI payloads are REALLY sampled (functions/avi.py): one
    JPEG frame per FRAME_EVERY_MS of CONTAINER time (n_frames/fps — the
    container is the truth, not the metadata column), each emitted
    frame being the actual encoded bytes of the nearest source frame.
    Other containers/codecs fall back to the deterministic digest STUB
    driven by meta_duration_ms (real impl: ffmpeg keyframe
    extraction)."""

    def _go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["meta_duration_ms"]
            ):
                b = bytes(payload) if payload else b""
                if avi.is_avi(b):
                    try:
                        vid = avi.decode_avi(b)
                        frames, fps = vid["frames"], vid["fps"]
                        dur_ms = len(frames) / fps * 1000.0
                        n = max(int(dur_ms // FRAME_EVERY_MS), 1)
                        for i in range(n):
                            src = min(
                                int(round(i * FRAME_EVERY_MS / 1000.0 * fps)),
                                len(frames) - 1,
                            )
                            rows.append((mid, i, frames[src]))
                        continue
                    except (NotImplementedError, ValueError):
                        pass  # non-MJPG / corrupt -> digest stub below
                n = max(int((dur or 0) // FRAME_EVERY_MS), 0)
                for i in range(n):
                    rows.append(
                        (
                            mid, i,
                            hashlib.blake2b(
                                b + i.to_bytes(4, "little"),
                                digest_size=16,
                            ).digest(),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame"]
            )

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload", "meta_duration_ms"
    ).mapInPandas(_go, schema=FRAMES_FIELDS)
