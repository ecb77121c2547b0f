"""Stage 3a — mention extraction + deterministic embedding.

Embeddings are a seeded hashed char-n-gram projection (D=64 float32,
L2-normalized) computed in large Arrow batches with numpy — the
clip-retrieval inference pattern (reference clip_inference/mapper.py:49-78:
batched encode, L2-normalize `mapper.py:58,66`), with the external model
swapped for a dependency-free deterministic featurizer (hermetic tests, per
the public-knowledge constraint). Unit-normalization means cosine == dot.

All ids are stable 63-bit hashes of content keys — never row positions
(the reference aligns npy rows with parquet rows positionally,
reference clip_inference/writer.py:96-106; DataFrames don't guarantee
order, so position can never be a key here).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIM = 64
_NGRAM = 3

MENTIONS_FIELDS = (
    "mention_id long, url string, sent_id int, role string, "
    "surface string, context string"
)
ENTITIES_FIELDS = "entity_id long, surface string, embedding array<float>"
SURFACE_EMB_FIELDS = "surface string, embedding array<float>"


def stable_id63(*parts: str) -> int:
    """Deterministic 63-bit id from content (blake2b, no seed drift)."""
    h = hashlib.blake2b("\x1f".join(parts).encode("utf-8"), digest_size=8)
    return int.from_bytes(h.digest(), "little") & 0x7FFFFFFFFFFFFFFF


def _ngram_features(surface: str) -> np.ndarray:
    """Signed hashed char-n-gram projection to DIM dims; deterministic."""
    s = f"^{surface.lower()}$"
    vec = np.zeros(DIM, dtype=np.float64)
    for i in range(max(len(s) - _NGRAM + 1, 1)):
        g = s[i : i + _NGRAM]
        h = hashlib.blake2b(g.encode("utf-8"), digest_size=8, key=b"kgembed")
        v = int.from_bytes(h.digest(), "little")
        vec[v % DIM] += 1.0 if (v >> 62) & 1 else -1.0
    n = float(np.linalg.norm(vec))
    if n > 0.0:
        vec /= n
    return vec.astype(np.float32)


def embed_batch(surfaces: pd.Series) -> list:
    """Batch featurizer — the init-once/batch-apply shape of the
    reference mapper; memoizes within a batch (surfaces repeat a lot
    under hub-entity skew)."""
    cache: dict[str, np.ndarray] = {}
    out = []
    for s in surfaces:
        e = cache.get(s)
        if e is None:
            e = _ngram_features(s)
            cache[s] = e
        out.append(e)
    return out


def mentions_df(triples: DataFrame) -> DataFrame:
    """triples -> mentions(mention_id, url, sent_id, role, surface,
    context).

    One mention per (url, sent_id, role, surface): subj and obj of every
    triple. ENTIRELY JVM-side (union + dedup + xxhash64 id): mentions
    carry NO embedding column — the embedding is a pure function of the
    surface and materializing it per-mention multiplies write volume by
    ~10x at web scale (and did measurably hurt 4x-core scaling: shipping
    12M array<float> rows through Arrow + parquet was the bottleneck
    stage). Embeddings attach to DISTINCT surfaces in the entity table
    (``entities_df``), which linking reads.
    """
    subj = triples.select(
        "url",
        "sent_id",
        F.col("subj").alias("surface"),
        F.col("pred").alias("context"),
        F.lit("s").alias("role"),
    )
    obj = triples.select(
        "url",
        "sent_id",
        F.col("obj").alias("surface"),
        F.col("pred").alias("context"),
        F.lit("o").alias("role"),
    )
    m = subj.unionByName(obj).dropDuplicates(
        ["url", "sent_id", "role", "surface"]
    )
    # mask (not abs): abs folds the sign bit, doubling collision odds,
    # and abs(Long.MIN_VALUE) stays negative — mask keeps all 63 bits
    # (mirrors stable_id63's & 0x7FF... for the Python-side ids)
    mid = F.xxhash64(
        F.lit("mention"), "url", "sent_id", "role", "surface"
    ).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))
    return m.select(
        mid.alias("mention_id"), "url", "sent_id", "role", "surface",
        "context",
    )


def entities_df(mentions: DataFrame) -> DataFrame:
    """Distinct surfaces -> entity table (the 'index' side of linking),
    embedded via Arrow-batched mapInPandas — the clip-retrieval
    inference pattern applied to the distinct-surface table (small under
    Zipf; the analog of the reference caching encodings per text,
    clip_back.py:671). This is the build's one embedding pass: linking
    scores the embeddings this table holds."""

    def _embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "surface": pdf["surface"],
                    "embedding": embed_batch(pdf["surface"]),
                }
            )

    return mentions.select("surface").distinct().mapInPandas(
        _embed, schema=SURFACE_EMB_FIELDS
    ).withColumn(
        "entity_id",
        F.xxhash64(F.lit("entity"), F.col("surface")).bitwiseAND(
            F.lit(0x7FFFFFFFFFFFFFFF)
        ),
    ).select("entity_id", "surface", "embedding")
