"""spark-submit entry point for offline corpus curation — the
training-data filtering DAG composed from the engine's own operators:

    quality filter -> exact dedup -> MinHash near-dedup ->
    semantic dedup (SemDeDup) -> deterministic hash sample

    spark-submit --py-files dist/clip_retrieval_spark.zip \
        jobs/curate.py --sf-dir /root/testdata/sf0.01 \
        --out /tmp/curated --quality-min 0.5 --sample-pct 50

The reference applies its filters per-query at serve time (safety,
aesthetic re-rank, dedup — clip_back.py:257-309,977-1001); a corpus
being prepared for training runs the same concerns ONCE, offline, as
a batch DAG. Every stage is hash/id-deterministic, so reruns produce
byte-identical survivor sets (the resumability property the ingest
pipeline already guarantees for its stages).

Prints ONE JSON line: per-stage survivor counts, the curated row
count, and an id checksum (sum of kept doc_ids — cheap equality
witness for reruns).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from clip_retrieval_spark.session import get_spark  # noqa: E402


def curate(spark, sf_dir: str, out: str, quality_min: float,
           semantic_tau: float, sample_pct: int) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clip_retrieval_spark.entry_queries import quality_scores
    from clip_retrieval_spark.operators.dedup import (
        exact_dedup,
        near_dedup_minhash,
        semantic_dedup,
    )

    counts: dict[str, int] = {}
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    counts["input"] = docs.count()

    # 1. quality floor (composite score from the library's scorer)
    q = quality_scores(spark, sf_dir).select("doc_id", "quality")
    docs = (
        docs.join(q, "doc_id")
        .filter(F.col("quality") >= quality_min)
        .drop("quality")
    )
    counts["quality"] = docs.count()

    # 2. exact dedup (min-id keeper per identical text)
    docs = exact_dedup(docs, ["text"], "doc_id")
    counts["exact_dedup"] = docs.count()

    # 3. near-dedup: keep only canonical representatives
    groups = near_dedup_minhash(docs, "doc_id", "text")
    keepers = groups.filter(
        F.col("doc_id") == F.col("canonical_id")
    ).select("doc_id")
    docs = docs.join(keepers, "doc_id", "left_semi")
    counts["near_dedup"] = docs.count()

    # 4. semantic dedup over the survivors' embeddings (vec_id keys
    # align with doc_id in the synthetic corpus)
    emb = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .withColumnRenamed("vec_id", "doc_id")
        .join(docs.select("doc_id"), "doc_id", "left_semi")
    )
    cents = (
        emb.orderBy("doc_id")
        .limit(8)
        .select(
            (F.row_number().over(Window.orderBy("doc_id")) - 1)
            .cast("int")
            .alias("cell_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    sem = semantic_dedup(
        emb, cents, threshold=semantic_tau, id_col="doc_id"
    )
    docs = docs.join(
        sem.filter("keep").select("doc_id"), "doc_id", "left_semi"
    )
    counts["semantic_dedup"] = docs.count()

    # 5. deterministic hash sample (reproducible across runs/engines —
    # same md5-bucket scheme as the sample_stratified gate)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    docs = docs.filter(bucket < sample_pct)
    curated = docs.localCheckpoint(eager=False)
    counts["sampled"] = curated.count()

    curated.write.mode("overwrite").parquet(os.path.join(out, "curated"))
    checksum = curated.agg(
        F.sum("doc_id").cast("long").alias("s")
    ).collect()[0]["s"]
    return {"counts": counts, "id_checksum": checksum}


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--quality-min", type=float, default=0.5)
    ap.add_argument("--semantic-tau", type=float, default=0.3)
    ap.add_argument("--sample-pct", type=int, default=50)
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master, app_name="kg-curate")
    t0 = time.monotonic()
    result = curate(
        spark, args.sf_dir, args.out, args.quality_min,
        args.semantic_tau, args.sample_pct,
    )
    result["wall_sec"] = round(time.monotonic() - t0, 2)
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
