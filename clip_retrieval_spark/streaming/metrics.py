"""Streaming metrics rollup — the reference's 5-second stats-flush loop
(clip_inference/logger.py:46-47,100-110: workers write wip_*.json, a
reader polls and sums) restated as Structured Streaming over the
pipeline's ``_metrics`` json-lines directory.

Watermark + tumbling window handle late stage reports; the sink is a
per-minute rollup. ``rollup_metrics_once`` drains the directory
(Trigger.AvailableNow) and stops — the batch pipeline's end-of-run
stats aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("at", T.DoubleType()),
        T.StructField("rows", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("cpu_ms", T.LongType()),
        T.StructField("buckets", T.LongType()),
    ]
)


def _rollup(df: DataFrame) -> DataFrame:
    ts = F.timestamp_seconds(F.col("at")).alias("ts")
    return (
        df.select("stage", "run_id", "rows", "wall_ms", "cpu_ms", ts)
        .withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("stage"))
        .agg(
            F.sum("rows").alias("rows"),
            F.sum("wall_ms").alias("wall_ms"),
            F.sum("cpu_ms").alias("cpu_ms"),
            F.count("*").alias("reports"),
        )
        .select(
            F.col("w.start").alias("minute"), "stage", "rows", "wall_ms",
            "cpu_ms", "reports",
        )
    )


def rollup_metrics_once(
    spark: SparkSession, metrics_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain-everything-then-stop (Trigger.AvailableNow) — the batch
    pipeline's end-of-run stats aggregation.

    Uses update mode + foreachBatch: in append mode a window only emits
    once the watermark passes it in a LATER batch, so a single
    drain-all batch would flush nothing.

    The sink is partitioned by (minute, stage) with DYNAMIC partition
    overwrite: update mode re-emits a window's cumulative row every
    batch that touches it, so a plain append would leave N cumulative
    rows per window and any summing consumer would double-count — the
    overwrite makes the LAST update win and readers see exactly one row
    per window.
    """
    src = spark.readStream.schema(METRICS_SCHEMA).json(metrics_dir)

    def _write(batch_df, _batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("minute", "stage")
            .parquet(out_dir)
        )

    q = (
        _rollup(src)
        .writeStream.outputMode("update")
        .foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
