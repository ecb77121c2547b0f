"""File-folder sources: the Spark restatement of the reference's readers.

* ``folder_scan`` — recursive binaryFile scan keyed by relative path
  (reference folder_to_keys, clip_inference/reader.py:10-51).
* ``pair_modalities`` — inner-join of the text and image key sets (the
  reference intersects key sets in RAM, reader.py:39-47; here it's a
  real join the optimizer can broadcast).
* ``compact`` — many small files -> few big ones (the
  parquet_to_arrow compaction job, clip_back_prepro/parquet_to_arrow.py:27-69,
  collapsed to coalesce+write).

The webdataset tar streaming reader (reader.py:234-269) has no analog:
our input contract is a TABLE (BASELINE.json input_hint), which is the
point — file wrangling happens once at ingest, not in every job.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _glob_escape(path: str) -> str:
    """Escape Hadoop glob metacharacters so a literal folder path with
    [ ] { } * ? in its name is loaded as-is, not expanded as a pattern."""
    return re.sub(r"([\[\]{}*?\\])", r"\\\1", path)

MODALITY_EXTS = {
    "text": (".txt",),
    "image": (".png", ".jpg", ".jpeg", ".webp"),
}


def folder_scan(
    spark: SparkSession, folder: str, exts: tuple[str, ...]
) -> DataFrame:
    """(key, path, payload) for files matching extensions; key is the
    extension-less path relative to the folder (the join key across
    modalities)."""
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(_glob_escape(folder))
    )
    cond = None
    for e in exts:
        c = F.col("path").endswith(e)
        cond = c if cond is None else (cond | c)
    # strip the folder prefix POSITIONALLY (locate + substr), never as a
    # regex: paths with regex metacharacters (+ ( [ .) would corrupt the
    # key and silently empty the modality join. The scheme prefix
    # ('file:', 's3a://'...) is whatever precedes the folder path in the
    # URI — not hardcoded.
    pfx = os.path.abspath(folder).rstrip("/") + "/"
    start = F.locate(pfx, F.col("path")) + F.lit(len(pfx))
    rel = F.col("path").substr(start, F.length("path"))
    key = F.regexp_replace(rel, r"\.[^.]+$", "")
    return df.filter(cond).select(
        key.alias("key"),
        F.col("path"),
        F.col("content").alias("payload"),
    )


def pair_modalities(spark: SparkSession, folder: str) -> DataFrame:
    """(key, text, image): inner-join the text and image files on key —
    only complete samples survive, exactly the reference's key-set
    intersection semantics."""
    text, image = (
        folder_scan(spark, folder, MODALITY_EXTS[name]).select(
            "key", F.col("payload").alias(name)
        )
        for name in ("text", "image")
    )
    return text.join(image, "key")


def compact(df: DataFrame, out_path: str, target_files: int = 1) -> None:
    """Small-files compaction (coalesce avoids a shuffle; use
    repartition instead when output skew matters more than the extra
    exchange)."""
    df.coalesce(target_files).write.mode("overwrite").parquet(out_path)
