"""MinHash-LSH blocking — the scale path that replaces the reference's
faiss index (reference clip_back.py:343-399 knn search and the
range_search self-join at clip_back.py:290-301).

Everything here is JVM-side (higher-order functions + xxhash64): shingle
-> minhash -> band -> explode -> equi-join. No Python in the hot path.
The band count is the recall/cost knob — the analog of the reference's
dynamic nprobe widening (clip_back.py:356-361).

Two consumers. The entity table (one row per distinct surface) is
blocked by ``link.entity_pairs``: ``lsh_explode`` on both sides of a
broadcast join, every bucket pair scored, for linking and the alias
merge alike. Document corpora (``dedup.near_dedup_minhash``) are too
big to broadcast and go through ``candidate_pairs``: a shuffle self-join
keyed by (band, signature) whose hot buckets are bounded by
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


def lsh_explode(
    df: DataFrame,
    text_col: str,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """df + (band, sig) — one row per (input row, band).

    Implemented as explode -> hash -> groupBy-min keyed on the 8-byte
    ``xxhash64(text)``, not as one nested expression: inlining the
    16-hash signature into 8 band keys blows the codegen expression
    tree up ~n_hashes x n_bands and Janino compile time dominates
    (measured: ~50 s on a 68-row input). The aggregate formulation
    keeps every expression tiny and is algebraic (map-side combine) —
    duplicate texts collapse in the combiner, so no distinct-text
    pre-shuffle is needed.

    Every shuffle in this operator (the signature agg and the join back
    to ``df``) is keyed by the text's xxhash64, never the text itself:
    near-dup corpora feed whole documents through here
    (``dedup.near_dedup_minhash``), and raw-text keys would move the
    corpus byte volume through the shuffle twice. A 64-bit key collision
    merges two texts' gram sets (min over the union), which can only
    perturb candidate generation; callers verify candidates exactly
    (Jaccard / cosine), so collisions cost recall ~2^-64, not
    correctness.
    """
    # 8-byte shuffle key standing in for the raw text
    tk = F.xxhash64(F.lit("lshk"), F.col(text_col))
    n_bands = n_hashes // band_rows
    grams = df.select(
        tk.alias("_tk"),
        F.explode(char_shingles(F.col(text_col))).alias("_g"),
    )
    hashed = grams.select(
        "_tk",
        *[
            F.xxhash64(F.lit(f"mh{i}"), F.col("_g")).alias(f"_h{i}")
            for i in range(n_hashes)
        ],
    )
    sigs = hashed.groupBy("_tk").agg(
        *[F.min(f"_h{i}").alias(f"_mh{i}") for i in range(n_hashes)]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"_mh{b * band_rows + r}") for r in range(band_rows)]
            ).alias("sig"),
        )
        for b in range(n_bands)
    ]
    bands = sigs.withColumn(
        "_b", F.explode(F.array(*band_structs))
    ).select("_tk", F.col("_b.band").alias("band"),
             F.col("_b.sig").alias("sig"))
    return df.withColumn("_tk", tk).join(bands, "_tk").drop("_tk")


def candidate_pairs(
    entities: DataFrame,
    max_bucket: int = 256,
    n_hashes: int = N_HASHES,
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
    the text column stays in the narrow key projection (see
    ``lsh_explode``) and never rides a join or window exchange.
    """
    buckets = lsh_explode(
        entities.select("entity_id", "surface"), "surface", n_hashes,
        band_rows,
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
