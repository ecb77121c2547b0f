"""Product quantization: the compressed-index path of the reference's
faiss indices (reference README.md:271-289 — ``clip-retrieval index``
builds memory-budgeted autofaiss indices, PQ-compressed when the corpus
outgrows RAM; consumed at clip_back.py:343-399), re-expressed as
DataFrame algebra.

PQ splits a d-dim vector into M subvectors of d/M dims, quantizes each
against its own k-cell codebook, and stores only the M cell ids (codes)
— 64-dim float32 (256 B) becomes M=8 bytes at k=256. Search is ADC
(asymmetric distance computation): the query stays exact; per query a
LUT of subvector-vs-centroid scores is built once (M x k entries), and
each corpus row's score is M table lookups + adds instead of d
multiplies. At 100 TB this is why PQ exists: the scan reads codes (8 B)
not vectors (256 B) — a 32x I/O reduction — and the per-row compute
drops by d/M.

Spark-first physical plan (mirrors operators.kmeans / ivf_topk):

* **train**: per-subspace k-means — a driver loop over M calls to
  kmeans_fit on the sliced vector column (M is small and fixed; the
  per-subspace jobs are independent DataFrame pipelines over the same
  scan).
* **encode**: one NARROW fold per corpus row over the broadcast
  codebook array (argmin per subspace, ties to the lowest cell) — the
  corpus never shuffles, exactly like ivf_topk assignment.
* **adc_topk**: queries collapse to one broadcast row carrying a
  per-query LUT array<array<double>>; score = fold over the M codes
  doing element_at into the LUT — JVM expressions end-to-end, the only
  exchange is the final per-query top-k window.

Determinism contract (DuckDB-oracle rules): encode distance is
ROUND(dot(cv,cv) - 2*dot(x_s,cv), 6) (||x_s||^2 constant per row,
omitted on both engines); LUT entries are rounded to 6 before the sum,
the ADC score after it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clip_retrieval_spark.functions.vectors import dot
from clip_retrieval_spark.operators.kmeans import kmeans_fit


def _sub(vec, s: Column | int, d_sub: int) -> Column:
    """1-based slice of subspace s (0-based) from a vector column."""
    start = (
        s * d_sub + 1
        if isinstance(s, int)
        else (s * F.lit(d_sub) + 1)
    )
    return F.slice(vec, start, d_sub)


def pq_train(
    points: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace codebooks: (sub int, cell_id int, centroid
    array<double>). A driver loop over M independent kmeans_fit
    pipelines on the sliced column (M is a small constant; each fit is
    fully distributed)."""
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    d_sub = dim // m
    parts = []
    for s in range(m):
        sliced = points.select(
            F.col(id_col), _sub(F.col(vec_col), s, d_sub).alias(vec_col)
        )
        parts.append(
            kmeans_fit(
                sliced, k, iterations, id_col=id_col, vec_col=vec_col
            ).select(F.lit(s).alias("sub"), "cell_id", "centroid")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _codebook_row(codebooks: DataFrame) -> Column:
    """Collapse (sub, cell_id, centroid) to one broadcastable row:
    _cb = array over subs (ascending) of array of (cell, cvec, cc)
    structs sorted by cell; cc = ||cvec||^2 precomputed ONCE per cell
    (the encode fold would otherwise recompute it per corpus row)."""
    per_sub = codebooks.groupBy("sub").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cell_id").cast("int").alias("cell"),
                    F.col("centroid").alias("cvec"),
                    dot(F.col("centroid"), F.col("centroid")).alias("cc"),
                )
            )
        ).alias("cells")
    )
    return F.broadcast(
        per_sub.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sub", "cells"))
                ),
                lambda e: e["cells"],
            ).alias("_cb")
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    id_col: str = "cid",
    vec_col: str = "c_emb",
    round_to: int = 6,
    m: int | None = None,
) -> DataFrame:
    """(id, codes array<int>): per-subspace argmin against the
    broadcast codebook — narrow, corpus never shuffles. A code is the
    POSITION of the winning cell in the cell-sorted codebook array
    (0-based), not the raw cell id — k-means may drop empty cells, and
    positional codes keep the ADC LUT lookup valid regardless (for a
    dense codebook position == cell id)."""
    if m is None:
        # callers that know their PQ geometry pass m and skip this job
        m = codebooks.select("sub").distinct().count()
    d_sub = dim // m
    cb = _codebook_row(codebooks)

    def _code_for(sub_idx: Column) -> Column:
        xs = _sub(F.col(vec_col), sub_idx, d_sub)
        cells = F.element_at(F.col("_cb"), sub_idx + 1)
        init = F.struct(
            F.lit(float("inf")).alias("d"),
            F.lit(None).cast("int").alias("cell"),
        )
        scored = F.transform(
            cells,
            lambda ct, i: F.struct(
                F.round(
                    ct["cc"] - 2 * dot(xs, ct["cvec"]), round_to
                ).alias("d"),
                i.cast("int").alias("cell"),
            ),
        )
        return F.aggregate(
            scored,
            init,
            lambda acc, e: F.when(
                (e["d"] < acc["d"])
                | ((e["d"] == acc["d"]) & (e["cell"] < acc["cell"])),
                e,
            ).otherwise(acc),
        )["cell"]

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)), lambda s: _code_for(s)
    )
    return (
        corpus.crossJoin(cb)
        .select(id_col, codes.alias("codes"))
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    dim: int,
    k: int = 5,
    q_id: str = "qid",
    q_emb: str = "q_emb",
    c_id: str = "cid",
    exclude_self: bool = False,
    round_to: int = 6,
    m: int | None = None,
) -> DataFrame:
    """ADC top-k: (qid, cid, score, rank), score = sum over subspaces
    of dot(q_sub, centroid[code]) — the inner-product ADC form (exact
    for the quantized corpus vector). LUTs are built per query against
    the broadcast codebook, then the scan over codes is M lookups +
    adds per row."""
    if m is None:
        m = codebooks.select("sub").distinct().count()
    d_sub = dim // m
    cb = _codebook_row(codebooks)
    # per-query LUT: array over subs of array over cells (cell order)
    # of rounded dot(q_sub, cvec)
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.element_at(F.col("_cb"), s + 1),
            lambda ct: F.round(
                dot(_sub(F.col(q_emb), s, d_sub), ct["cvec"]), round_to
            ),
        ),
    )
    q_lut = F.broadcast(
        queries.crossJoin(cb).select(q_id, lut.alias("_lut"))
    )
    score = F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("_lut"),
                # code is the cell id == position in the cell-sorted
                # array (cells are 0..k-1 by construction)
                lambda code, row: F.element_at(row, code + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        round_to,
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    cand = codes.crossJoin(q_lut)
    if exclude_self:
        cand = cand.filter(F.col(q_id) != F.col(c_id))
    return (
        cand.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "score", "rank")
    )


def pq_rerank_topk(
    queries: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    k: int = 5,
    shortlist: int = 100,
    q_id: str = "qid",
    q_emb: str = "q_emb",
    c_id: str = "cid",
    c_emb: str = "c_emb",
    exclude_self: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """The production PQ pattern (how the reference's faiss indices are
    actually served, clip_back.py:343-399): ADC over compressed codes
    produces a per-query SHORTLIST, then only those rows' exact vectors
    are fetched and re-ranked. The expensive scan touches 8-byte codes;
    exact vectors are read for shortlist x |queries| rows only — at
    100 TB that is the difference between scanning 100 TB of floats
    and ~3 TB of codes plus a point-lookup join."""
    short = pq_adc_topk(
        queries, codes, codebooks, dim, k=shortlist,
        q_id=q_id, q_emb=q_emb, c_id=c_id,
        exclude_self=exclude_self, round_to=round_to,
    ).select(q_id, c_id)
    qv = queries.select(q_id, q_emb)
    exact = (
        short.join(corpus.select(c_id, c_emb), c_id)
        .join(F.broadcast(qv), q_id)
        .withColumn("score", F.round(dot(F.col(q_emb), F.col(c_emb)), round_to))
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "score", "rank")
    )
