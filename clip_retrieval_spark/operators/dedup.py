"""Training-data dedup operators (generic, scale-path).

The oracle-matched specializations live in entry_queries (md5-based so
DuckDB can replay them bit-for-bit); these are the engine-grade versions
for arbitrary tables: parameterized columns, xxhash64 (faster than md5,
JVM-native), LSH blocking for near-dup, and canonical-keeper election.

All operators follow the reference's dedup contract (clip_back.py:257-309:
hash exact-dup + connected-components near-dup, keep first of each
group) restated as DataFrame ops with explicit keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clip_retrieval_spark.operators.cc import connected_components
from clip_retrieval_spark.operators.lsh import candidate_pairs


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Keep the min-id row per exact content hash (G1).

    The reference hashes rounded embeddings (clip_back.py:257-268) and
    drops later duplicates; 'later' is undefined under parallelism, so
    the keeper is pinned to min(id).
    """
    h = F.xxhash64(*content_cols)
    w = Window.partitionBy(h).orderBy(F.asc(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )


def dedup_stats(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """(content_hash, keeper, n_copies) — audit table for exact dedup."""
    return df.groupBy(
        F.xxhash64(*content_cols).alias("content_hash")
    ).agg(
        F.min(id_col).alias("keeper"),
        F.count("*").alias("n_copies"),
    )


def near_dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.7,
    n_hashes: int = 16,
    band_rows: int = 2,
    shingle_words: int = 3,
    max_bucket: int = 512,
) -> DataFrame:
    """Near-dup groups via word-shingle MinHash-LSH + exact Jaccard
    verify + connected components. Returns (id, canonical_id).

    Pipeline: shingle -> minhash/band (JVM) -> bucket join ->
    exact-Jaccard re-check on candidates only -> CC -> min-id keeper.
    The verify step kills LSH false positives, so the output depends on
    the threshold, not on banding luck.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.size(toks) - shingle_words, F.lit(0)
                ),
            ),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, shingle_words)),
        )
    )
    base = df.select(
        F.col(id_col).alias("_id"), shingles.alias("_sh")
    ).filter(F.size("_sh") > 0)

    # candidate pairs from LSH over the shingle strings
    flat = base.select(
        F.col("_id").alias("entity_id"),
        F.concat_ws("\x1f", "_sh").alias("surface"),
    )
    cand = candidate_pairs(
        flat, max_bucket=max_bucket, n_hashes=n_hashes, band_rows=band_rows
    )

    # exact Jaccard verify on candidates only
    sh_a = base.select(F.col("_id").alias("a"), F.col("_sh").alias("sha"))
    sh_b = base.select(F.col("_id").alias("b"), F.col("_sh").alias("shb"))
    verified = (
        cand.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn(
            "j",
            F.size(F.array_intersect("sha", "shb"))
            / F.size(F.array_union("sha", "shb")),
        )
        .filter(F.col("j") >= jaccard_threshold)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    assign = connected_components(verified)
    ids = df.select(F.col(id_col).alias("_id"))
    return (
        ids.join(
            assign.withColumnRenamed("node", "_id"), "_id", "left"
        )
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("component", F.col("_id")).alias("canonical_id"),
        )
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint per row, fully JVM-side: token
    xxhash64 -> per-bit majority -> fingerprint. Near-dups share
    fingerprints (or differ in few bits — pair with a bit-band join
    for hamming-<=k search)."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .withColumn("h", F.xxhash64("tok"))
    )
    bits = toks.select(
        id_col, "h",
        F.explode(F.array(*[F.lit(b) for b in range(64)])).alias("bit"),
    )
    votes = (
        bits.withColumn(
            "v",
            F.when(F.expr("(shiftright(h, bit) & 1) = 1"), 1).otherwise(-1),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("v").alias("s"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("s") > 0,
                F.expr("shiftleft(cast(1 as bigint), bit)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 1024,
    round_to: int = 6,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    dedup over an embedding column: cluster the space with the given
    centroid codebook (operators.kmeans.assign_cells — broadcast
    codebook, narrow argmin, the corpus never shuffles for the
    assignment), then within each cluster drop every item whose
    cosine similarity to ANY lower-id item in the same cluster rounds
    to >= ``threshold``. The reference ships the same concern as
    embedding dedup before indexing (clip_back.py:257-309); SemDeDup
    is its corpus-curation generalization.

    Keeper rule is greedy-by-id against ALL lower-id members (not just
    kept ones) — deterministic under any parallelism and expressible
    as a single EXISTS, so a SQL oracle can replay it exactly.

    Returns (id_col, cell_id int, keep boolean).

    Determinism contract: every dot product — the norm and the pairwise
    gram — produces exactly the value of a DIMENSION-ORDER fold,
    bit-identical to DuckDB's list_dot_product and to the JVM
    F.aggregate fold of functions.vectors.dot, so ROUND(cos, round_to)
    agrees across engines. The gram fast path reorders the summation
    for speed but recomputes the exact fold inside a 1e-9 guard band
    around every rounding boundary (see _gram_rounded: the reordering
    error is bounded ~3e-14 for unit rows), so the ROUNDED result is
    the fold's on all inputs; unguarded BLAS would flip boundary cases.

    Scale shape: one shuffle, keyed by cell_id. Per-task cost is
    O(m^2 d / block) for an m-member cluster with memory bounded by
    block_rows x m; codebook size (n/avg_cluster_size) sets the
    parallelism. Pathological hot cells are the same skew class the
    LSH bucket cap handles: pass ``max_cell`` and any cell with more
    members is split into ceil(m / max_cell) SALTED sub-cells
    (salt = pmod(xxhash64(id), n_salt) — deterministic under any
    parallelism), bounding every task at ~max_cell rows. Tradeoff,
    stated not hidden: duplicates land in the same sub-cell only
    probabilistically, so the salted path trades recall inside hot
    cells for a hard task-size bound (identical vectors hash to
    DIFFERENT salts only when their IDS differ — exact copies of one
    id never split). max_cell=None (default) is the exact path the
    SQL oracle replays.
    """
    import numpy as np
    import pandas as pd

    from clip_retrieval_spark.operators.kmeans import assign_cells

    assigned = assign_cells(
        emb.select(id_col, vec_col),
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
    )

    def _gram_rounded(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        """ROUND(gram, round_to) with output PROVABLY identical to the
        dim-ordered fold for every input, at ~8x its speed.

        The contract value is np.round(fold, round_to) where fold
        accumulates a_rk*b_ck over k in order. einsum(optimize=False)
        sums the SAME 64 products in a different association order;
        for unit-normalized rows the reordering error is bounded by
        2*d*eps*sum|a_k b_k| <= 2*64*2.3e-16*(||a|| ||b||) ~ 3e-14
        (Cauchy-Schwarz), so the two can only round differently within
        1e-9 of a rounding boundary — 4+ orders of safety margin.
        Elements inside that guard band (~0.2% of entries at random)
        are recomputed with the exact sequential fold before rounding,
        so the result equals the old kernel bit-for-bit on ALL inputs,
        not just the fixtures."""
        g = np.einsum("rk,ck->rc", a, b, optimize=False)
        scaled = g * 10.0**round_to
        frac = np.abs(scaled - np.floor(scaled) - 0.5)
        near = frac < 1e-3  # 1e-3 ulp-of-rounding = 1e-9 in value
        if near.any():
            ri, ci = np.nonzero(near)
            av, bv = a[ri], b[ci]
            ex = np.zeros(len(ri), dtype=np.float64)
            for k in range(a.shape[1]):  # dim-ordered, per element
                ex += av[:, k] * bv[:, k]
            g[ri, ci] = ex
        return np.round(g, round_to)

    # Tile-level threads: task parallelism is bounded by the number of
    # cells, so when the executor has more cores than there are cells
    # (k=8 codebooks on 32-core hosts) the gram work is threaded over
    # ROW blocks inside each task — numpy releases the GIL, each thread
    # writes a disjoint dup[s:e] slice, and the per-tile dim-ordered
    # fold (the determinism contract) is untouched because tiles are
    # independent and boolean OR is commutative.
    n_threads = int(os.environ.get("SPARK_GRAFT_CELL_THREADS", "4"))

    def _one_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(
            drop=True
        )
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        n = x.shape[0]
        sq = np.zeros(n, dtype=np.float64)
        for k in range(x.shape[1]):  # dim-ordered, see contract above
            sq += x[:, k] * x[:, k]
        nz = np.sqrt(sq)
        nz[nz == 0.0] = 1.0
        xn = x / nz[:, None]
        dup = np.zeros(n, dtype=bool)

        def _row_block(s: int) -> tuple[int, int, "np.ndarray"]:
            e = min(s + block_rows, n)
            out = np.zeros(e - s, dtype=bool)
            for cs in range(0, s + 1, block_rows):
                ce = min(cs + block_rows, e)
                g = _gram_rounded(xn[s:e], xn[cs:ce])
                m = g >= threshold
                if cs == s:  # diagonal tile: strictly-lower ids only
                    m &= np.tri(e - s, ce - cs, k=-1, dtype=bool)
                out |= m.any(axis=1)
            return s, e, out

        blocks = list(range(0, n, block_rows))
        if len(blocks) > 1 and n_threads > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=n_threads) as ex:
                # largest row blocks first: block s owns s/B + 1 tiles
                for s, e, out in ex.map(_row_block, reversed(blocks)):
                    dup[s:e] = out
        else:
            for s in blocks:
                s, e, out = _row_block(s)
                dup[s:e] = out
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell_id": pdf["cell_id"],
                "keep": ~dup,
            }
        )

    out_schema = f"{id_col} long, cell_id int, keep boolean"
    if max_cell is None:
        return assigned.groupBy("cell_id").applyInPandas(
            _one_cell, schema=out_schema
        )
    # salted split of hot cells (see docstring): n_salt derived from
    # the per-cell count via a broadcast side table — one extra
    # algebraic agg, no second scan of the vectors
    counts = assigned.groupBy("cell_id").agg(
        F.ceil(F.count("*") / max_cell).cast("int").alias("_n_salt")
    )
    salted = assigned.join(F.broadcast(counts), "cell_id").withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(id_col)), F.col("_n_salt")).cast("int"),
    )
    return (
        salted.groupBy("cell_id", "_salt")
        .applyInPandas(
            lambda pdf: _one_cell(pdf.drop(columns=["_n_salt", "_salt"])),
            schema=out_schema,
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    seen: DataFrame | None,
    content_cols: list[str],
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup a NEW ingestion batch against the already-ingested
    corpus without rescanning it: (1) in-batch min-id-keeper dedup,
    (2) left-anti join against the persisted content-hash ledger.
    Returns (kept_rows, ledger_delta) where ledger_delta is the
    (content_hash, keeper) rows to append to ``seen`` after the batch
    commits — the streaming/incremental face of ``exact_dedup`` (the
    reference dedups only within one loaded collection,
    clip_back.py:257-268; an ingesting corpus needs the ledger form).

    ``seen`` may be None (first batch). Ledger schema:
    (content_hash long, keeper long).

    Scale shape: the ledger join is keyed by an 8-byte hash — bucket
    the ledger table on content_hash and the anti join co-locates with
    no ledger shuffle; the batch side is the small one by construction.
    """
    h = F.xxhash64(*content_cols)
    in_batch = exact_dedup(new_df, content_cols, id_col)
    hashed = in_batch.withColumn("_content_hash", h)
    if seen is not None:
        hashed = hashed.join(
            seen.select(F.col("content_hash").alias("_content_hash")),
            "_content_hash",
            "left_anti",
        )
    kept = hashed.drop("_content_hash")
    delta = hashed.select(
        F.col("_content_hash").alias("content_hash"),
        F.col(id_col).alias("keeper"),
    )
    return kept, delta
