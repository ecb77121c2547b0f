"""Explicit skew handling: salted aggregation and salted joins.

AQE's skew-join splitting (on by default in session.py) fixes skewed
SHUFFLE PARTITIONS at runtime; salting fixes skewed KEYS structurally —
needed when one key alone (a hub entity, a head domain) exceeds what a
single task should hold. The reference's static modulo split has no
answer to this (reference clip_inference/runner.py:6-14, flagged as its
weakness in SURVEY.md §4).

Patterns provided:
* ``salted_agg`` — two-phase aggregate: partial agg on (key, salt),
  final agg on key. Correct for ALGEBRAIC aggregates (sum/count/min/
  max), the ones that matter at scale.
* ``salted_join`` — replicate the small side S times, salt the big
  side's key with pmod(xxhash64(row), S): hub keys spread over S tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Deterministic per-row salt ``_salt`` in [0, n_salts) — hash of
    the whole row would be ideal but any high-cardinality column mix works;
    monotonically_increasing_id is avoided (nondeterministic on rerun)."""
    return df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int"),
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    ``aggs`` maps column -> one of sum/count/min/max. The partial phase
    shuffles on (key, salt) so a hub key lands on n_salts reducers; the
    final phase combines n_salts rows per key — trivially small.
    (Spark's hash aggregate already does map-side partial aggregation;
    salting additionally protects the REDUCE side when a single key's
    partials exceed one task, e.g. collect-like or high-cardinality
    secondary grouping.)
    """
    _merge = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    partial = (
        with_salt(df, n_salts)
        .groupBy(*key_cols, "_salt")
        .agg(
            *[
                getattr(F, fn)(c).alias(f"_p_{c}")
                for c, fn in aggs.items()
            ]
        )
    )
    return partial.groupBy(*key_cols).agg(
        *[
            getattr(F, _merge[fn])(f"_p_{c}").alias(f"{fn}_{c}")
            for c, fn in aggs.items()
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join where ``big`` has skewed keys: salt the big side,
    replicate the small side across all salts (explode), join on
    (key, salt). Small side grows n_salts x — keep it genuinely small
    (or AQE-broadcastable, in which case prefer broadcast and skip
    salting entirely)."""
    big_s = with_salt(big, n_salts)
    small_s = small.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")
