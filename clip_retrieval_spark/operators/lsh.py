"""MinHash-LSH blocking — the scale path that replaces the reference's
faiss index (reference clip_back.py:343-399 knn search and the
range_search self-join at clip_back.py:290-301).

Everything here is JVM-side (higher-order functions + xxhash64): shingle
-> minhash -> band -> explode -> equi-join. No Python in the hot path.
The signature and band keys are narrow per-row expressions
(``lsh_explode``); the only shuffles are the consumers' bucket joins.
The band count is the recall/cost knob — the analog of the reference's
dynamic nprobe widening (clip_back.py:356-361).

Two consumers. The entity table (one row per distinct surface) is
blocked by ``link.entity_pairs``: the ``lsh_explode`` projection on
both sides of a broadcast join, every bucket pair scored, for linking
and the alias merge alike. Document corpora
(``dedup.near_dedup_minhash``) are too big to broadcast and go through
``candidate_pairs``: a shuffle self-join keyed by (band, signature)
whose hot buckets are bounded by
``max_bucket`` — an over-cap bucket contributes a spanning chain instead
of its m^2 pairs, which keeps worst-case pair fanout linear in input;
AQE skew-join splits what remains. The cap bounds document blocking
only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_HASHES = 16
BAND_ROWS = 2  # => 8 bands
SHINGLE = 3  # char n-gram length
# salt cells of an over-cap bucket's chain (see candidate_pairs)
CHAIN_SALTS = 64


def char_shingles(col: Column) -> Column:
    """Distinct char SHINGLE-grams of lower(col), JVM-side."""
    s = F.concat(F.lit("^"), F.lower(col), F.lit("$"))
    idx = F.sequence(
        F.lit(1), F.greatest(F.length(s) - (SHINGLE - 1), F.lit(1))
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.substr(s, i, F.lit(SHINGLE)))
    )


def _minhash(grams: Column, seed: str) -> Column:
    """One MinHash: the min of a seeded xxhash64 over the shingles."""
    return F.array_min(
        F.transform(grams, lambda g: F.xxhash64(F.lit(seed), g))
    )


def lsh_explode(
    df: DataFrame,
    text_col: str,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """df + (band, sig) — one row per (input row, band).

    Narrow: each row's signature is computed from its own shingles, so
    the operator adds no exchange. The shingle array is one projected
    column; each minhash is the min of its seeded xxhash64 over that
    array and feeds exactly one band key, so no expression is written
    twice and the generated code stays small. Duplicate texts are
    hashed once per row, not once per distinct text.

    Cost: a caller that reads the band table twice computes it twice.
    ``link.entity_pairs`` puts it on both sides of its broadcast join,
    so each distinct surface costs 2 x N_HASHES ``array_min`` — where a
    shuffled signature table (explode, aggregate, join back) would be
    computed once and its shuffle output reused by both sides.
    """
    grams = df.withColumn("_g", char_shingles(F.col(text_col)))
    mh = [_minhash(F.col("_g"), f"mh{i}") for i in range(N_HASHES)]
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*mh[b * band_rows:(b + 1) * band_rows]).alias("sig"),
        )
        for b in range(N_HASHES // band_rows)
    ]
    return grams.select(*df.columns, F.inline(F.array(*bands)))


def candidate_pairs(
    entities: DataFrame,
    max_bucket: int = 256,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """Distinct candidate pairs (a < b) of ``entities(entity_id,
    surface)`` from shared LSH buckets.

    Self-join on (band, sig) with a bucket-size cap: a bucket of size m
    contributes m^2 pairs, so unbounded hot buckets are the classic LSH
    blowup; capping keeps the join linear-ish at scale.

    Over-cap buckets are NOT silently dropped (they are exactly the
    largest duplicate clusters — dropping them means the corpus' worst
    duplicates never merge). They emit a SPANNING chain instead: m-1
    consecutive-pair edges connect the whole bucket for downstream
    connected components at linear (not quadratic) cost. The chain is
    built two-level — members chain within a salt cell, then the
    per-salt minima chain across cells — so no single task ever sorts an
    entire hot bucket: per-task rows are bounded by ~m/CHAIN_SALTS for
    the cell windows and by CHAIN_SALTS for the cross-cell window,
    regardless of how degenerate the bucket is. A verify step downstream
    may cut individual chain links; near-identical texts recur in most
    bands, so surviving links in other bands reconnect true clusters in
    practice.

    Shuffle-byte discipline: only (id, band, sig) rows ever shuffle —
    the text column stays in the narrow signature projection
    (``lsh_explode``) and never rides a join or window exchange.
    """
    buckets = lsh_explode(
        entities.select("entity_id", "surface"), "surface", band_rows
    ).select("entity_id", "band", "sig")
    # bucket-size cap via aggregate (reuses the same hash partitioning
    # the join needs, so AQE collapses the exchanges)
    counts = buckets.groupBy("band", "sig").agg(F.count("*").alias("_n"))
    bounded = buckets.join(
        counts.filter(F.col("_n") <= max_bucket), ["band", "sig"]
    ).drop("_n")
    a = bounded.select("band", "sig", F.col("entity_id").alias("a"))
    b = bounded.select("band", "sig", F.col("entity_id").alias("b"))
    pairs = (
        a.join(b, ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    big = buckets.join(
        counts.filter(F.col("_n") > max_bucket), ["band", "sig"]
    ).drop("_n")
    # Two-level salted chain: a pathological bucket (10^8 identical
    # docs) must not land in ONE window task. Level 1 chains within a
    # salt cell (task rows ~ m/CHAIN_SALTS); level 2 chains the per-cell
    # minima (task rows <= CHAIN_SALTS). Union is still a spanning tree
    # of the bucket: every member reaches its cell minimum, and cell
    # minima reach each other.
    salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.lit("chain"), F.col("entity_id")),
                        F.lit(CHAIN_SALTS))
    )
    w1 = Window.partitionBy("band", "sig", "_salt").orderBy("entity_id")
    within = (
        salted.withColumn("_nx", F.lead("entity_id").over(w1))
        .filter(F.col("_nx").isNotNull())
        .select(F.col("entity_id").alias("a"), F.col("_nx").alias("b"))
    )
    minima = salted.groupBy("band", "sig", "_salt").agg(
        F.min("entity_id").alias("_m")
    )
    w2 = Window.partitionBy("band", "sig").orderBy("_m")
    across = (
        minima.withColumn("_nx", F.lead("_m").over(w2))
        .filter(F.col("_nx").isNotNull())
        .select(F.col("_m").alias("a"), F.col("_nx").alias("b"))
    )
    return pairs.unionByName(within).unionByName(across).distinct()
