"""As-of (point-in-time) join — a custom operator Spark lacks natively.

For each left row, attach the newest right row with the same key whose
timestamp is <= (or strictly <) the left timestamp. The classic
implementations are a range join (quadratic blowup on hot keys) or a
per-key sorted merge in Python; neither survives web scale. This one is
the union-tag formulation: interleave both sides on (key, ts), then a
single running `last(value, ignorenulls=True)` window carries the most
recent right-side row forward onto every left row. Cost = one shuffle
on the key (the same shuffle any join would pay), no range explosion,
no Python, whole-stage-codegen throughout — and AQE's skew handling
applies to the window shuffle like any other.

The reference has no temporal joins (its metadata is static); this is
one of the training-data-pipeline operators the engine adds (events →
most recent feature snapshot / session attribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    tie_break: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Attach to each ``left`` row the latest ``right`` row per ``on``
    key with ``right.ts <= left.ts`` (``strict=True``: ``<``).

    ``tie_break`` names a right column used to order rows that share a
    timestamp (latest wins) and, interleaved at equal instants, to keep
    the merge deterministic; required when right timestamps can tie.
    Right columns (except the key) come back prefixed ``right_`` and are
    NULL when no right row precedes the left row.
    """
    rcols = [c for c in right.columns if c != on]
    # side=0 sorts right rows before left rows at the same instant, so a
    # non-strict join sees same-timestamp right rows; strict mode flips
    # the interleave so equal-instant right rows land after the left row.
    r_side = 1 if strict else 0
    l_side = 1 - r_side
    r = right.select(
        F.col(on),
        F.col("ts").alias("_ts"),
        F.lit(r_side).alias("_side"),
        F.struct(*[F.col(c) for c in rcols]).alias("_r"),
    )
    lcols = left.columns
    lf = left.select(
        F.col(on),
        F.col("ts").alias("_ts"),
        F.lit(l_side).alias("_side"),
        F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
    )
    merged = r.select(
        on, "_ts", "_side", "_r", F.lit(None).cast(lf.schema["_l"].dataType).alias("_l")
    ).unionByName(lf)
    order = [F.col("_ts").asc(), F.col("_side").asc()]
    if tie_break is not None:
        # right rows order among themselves by the tie-break; left rows
        # carry NULL there. Null placement (asc_nulls_first) is
        # irrelevant for correctness: _side already orders left vs
        # right rows at equal instants.
        order.append(F.col("_r").getField(tie_break).asc_nulls_first())
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn("_match", F.last("_r", ignorenulls=True).over(w))
    out = carried.filter(F.col("_l").isNotNull()).select(
        *[F.col("_l").getField(c).alias(c) for c in lcols],
        *[F.col("_match").getField(c).alias(f"right_{c}") for c in rcols],
    )
    return out
