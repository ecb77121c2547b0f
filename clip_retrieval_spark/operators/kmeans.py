"""Fixed-iteration Lloyd k-means over an embedding column — the
in-engine trainer for the IVF coarse quantizer.

The reference trains its faiss IVF codebook off-engine (autofaiss — see
reference docs and clip_back.py:343-399 for how the trained index is
consumed); here training itself is DataFrame algebra so the same engine
that serves `ivf_topk` can also build its centroids at corpus scale:

* **Seeding** is deterministic: the k rows with the smallest ids become
  centroids 0..k-1 (a TakeOrderedAndProject of k rows — no sampling
  RNG, so runs and engines agree bit-for-bit).
* **Assignment** is a NARROW per-row fold against the k x d codebook
  riding as a CONSTANT array<struct> literal (k x d doubles collected
  driver-side — the same legitimate tiny-collect class as the
  selection operator's histogram reads): an explode+window argmin
  would shuffle |corpus| x k rows, the classic hidden cost, and the
  previous broadcast-row variant paid three collect_list jobs plus a
  crossJoin per assignment pass for the same fold. The corpus never
  shuffles during assignment.
* **Update** is k*dim codegen AVG aggregates in ONE map-side-combinable
  groupBy(cell) — no posexplode blowup, no second aggregation. The
  only exchange per round carries k rows of partial sums.
* **Iterations** are a driver-side loop: each round's k x d codebook is
  collected (replacing the previous localCheckpoint lineage chain) and
  fed to the next round as literals.

Cross-engine determinism contract (the DuckDB-oracle rules from
entry_queries): distances are ROUND(dot(c,c) - 2*dot(x,c), 6) — the
||x||^2 term is constant per row and omitted on BOTH engines; dots are
functions.vectors.dot's left-to-right folds (bit-identical to DuckDB
list_dot_product, established empirically by the ANN suite); ||c||^2
is the same left fold computed driver-side (Python floats are IEEE
binary64 with identical scalar semantics). Per-dim means are rounded
to 6 IN SPARK (F.round = HALF_UP; Python round() is banker's and is
never used) before the next round so float-association order can't
compound.

Empty cells simply drop out of the next round's codebook (groupBy
semantics — identical in SQL); with data-seeded centroids each seed
cell contains at least its seed point in round 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clip_retrieval_spark.functions.vectors import dot


def _collect_codebook(
    centroids: DataFrame, cell_id: str, cent_emb: str
) -> list[tuple[int, list[float], float]]:
    """(cell, cvec, ||cvec||^2) sorted by cell — ||cvec||^2 is the same
    left-to-right IEEE fold the in-plan dot would produce."""
    out = []
    for r in centroids.select(cell_id, cent_emb).collect():
        cv = [float(x) for x in r[cent_emb]]
        cc = 0.0
        for x in cv:
            cc = cc + x * x
        out.append((int(r[cell_id]), cv, cc))
    out.sort(key=lambda t: t[0])
    return out


def _with_cell(
    df: DataFrame,
    vec_col: str,
    cells: list[tuple[int, list[float], float]],
    round_to: int,
    cell_col: str,
) -> DataFrame:
    """df + ``cell_col`` = argmin centroid (squared-L2 with the
    ||x||^2 term dropped, ties to the lowest cell id; null when no
    centroid yields a valid distance — ragged/null vectors fold every
    distance to null and are skipped, identical to the previous
    broadcast-row fold).

    The codebook rides as a CONSTANT array<struct> literal (constant-
    folded by Catalyst) instead of the previous collect_list broadcast
    row — same per-row fold, but the three collect_list jobs and the
    crossJoin disappear from every assignment pass. (An unrolled
    codegen chain was tried and rejected: k*dim arithmetic in one
    expression tree exceeds the JVM's 64 KB method limit and drops the
    whole stage to interpreted mode.)"""
    vec = F.col(vec_col)
    cents = F.array(
        *[
            F.struct(
                F.lit(cell).cast("int").alias("cell"),
                F.array(*[F.lit(x) for x in cv]).alias("cvec"),
                F.lit(cc).alias("cc"),
            )
            for cell, cv, cc in cells
        ]
    )
    scored = F.transform(
        cents,
        lambda ct: F.struct(
            F.round(
                ct["cc"] - 2 * dot(vec, ct["cvec"]), round_to
            ).alias("d"),
            ct["cell"].alias("cell"),
        ),
    )
    init = F.struct(
        F.lit(float("inf")).alias("d"),
        F.lit(None).cast("int").alias("cell"),
    )
    best = F.aggregate(
        scored,
        init,
        lambda acc, e: F.when(
            (e["d"] < acc["d"])
            | ((e["d"] == acc["d"]) & (e["cell"] < acc["cell"])),
            e,
        ).otherwise(acc),
    )
    return df.withColumn(cell_col, best["cell"])


def assign_cells(
    points: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id: str = "cell_id",
    cent_emb: str = "centroid",
    round_to: int = 6,
) -> DataFrame:
    """(id, vec, cell): nearest-centroid assignment, squared-L2, ties
    to the lowest cell id. One codegen argmin per corpus row over the
    collected k x d codebook; rows whose vectors don't produce a valid
    distance (ragged/null arrays) are dropped explicitly, mirroring
    ivf_topk's contract."""
    cells = _collect_codebook(centroids, cell_id, cent_emb)
    if not cells:  # empty codebook: no row has a nearest centroid
        return points.select(
            id_col, vec_col, F.lit(None).cast("int").alias(cell_id)
        ).filter(F.lit(False))
    return (
        _with_cell(points, vec_col, cells, round_to, cell_id)
        .select(id_col, vec_col, cell_id)
        .filter(F.col(cell_id).isNotNull())
    )


def _cells_from(pairs: list[tuple[int, list]]) -> list:
    """(cell, cv) -> (cell, cv, ||cv||^2) sorted by cell; a centroid
    with a null per-dim mean can never win an assignment (every dot
    against it folds to null) and never collects members, so it is
    equivalent to — and dropped as — an empty cell."""
    out = []
    for cell, cv in pairs:
        if any(x is None for x in cv):
            continue
        cv = [float(x) for x in cv]
        cc = 0.0
        for x in cv:
            cc = cc + x * x
        out.append((cell, cv, cc))
    out.sort(key=lambda t: t[0])
    return out


def _fit_codebook(
    pts: DataFrame,
    k: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    round_to: int,
) -> list[tuple[int, list[float], float]]:
    """Driver-side Lloyd loop over collected k x d codebooks.

    ``pts`` should already be pinned (localCheckpoint) by the caller:
    every round re-reads the training set, and without the pin each of
    the 1 + iterations jobs would re-run the scan (serial for a
    single-row-group input) plus any upstream repartition. Caching the
    training set across Lloyd rounds is the standard shape (Spark
    MLlib's KMeans persists its normed input for exactly this reason);
    it spills to disk when the corpus outgrows storage memory.
    """
    # deterministic seeding: k smallest ids -> cells 0..k-1, rounded in
    # Spark (F.round semantics — HALF_UP) before collection
    seed_rows = (
        pts.select(
            id_col,
            F.transform(
                vec_col, lambda x: F.round(x.cast("double"), round_to)
            ).alias("_cv"),
        )
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    cells = _cells_from(
        [(i, list(r["_cv"])) for i, r in enumerate(seed_rows)]
    )
    for _ in range(iterations):
        if not cells:
            break
        assigned = _with_cell(
            pts, vec_col, cells, round_to, "_cell"
        ).filter(F.col("_cell").isNotNull())
        # posexplode + ONE map-side-combinable (cell, dim) AVG; the
        # k*dim rounded means collect to the driver (k*dim doubles)
        # where the next round's codebook is assembled — the previous
        # second aggregation (collect_list into arrays) is gone
        mrows = (
            assigned.select(
                "_cell", F.posexplode(F.col(vec_col)).alias("_i", "_x")
            )
            .groupBy("_cell", "_i")
            .agg(
                F.round(F.avg(F.col("_x").cast("double")), round_to)
                .alias("_m")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in mrows:
            by_cell.setdefault(int(r["_cell"]), {})[int(r["_i"])] = r["_m"]
        cells = _cells_from(
            [
                (cell, [dims[i] for i in sorted(dims)])
                for cell, dims in by_cell.items()
            ]
        )
    return cells


def kmeans_fit(
    points: DataFrame,
    k: int,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Train a k-cell codebook: returns (cell_id int, centroid
    array<double>). See the module docstring for the physical plan and
    the determinism contract."""
    spark = points.sparkSession
    # lazy checkpoint: the seeding TakeOrdered is the first action and
    # scans every partition, so it materializes the pin itself — one
    # job instead of two (safe here: the driver loop is sequential,
    # unlike the concurrent-consumer case graph.py pins eagerly)
    pts = points.select(id_col, vec_col).localCheckpoint(eager=False)
    cells = _fit_codebook(
        pts, k, iterations, id_col, vec_col, round_to
    )
    return spark.createDataFrame(
        [(cell, cv) for cell, cv, _cc in cells],
        "cell_id int, centroid array<double>",
    )


def kmeans_assign(
    points: DataFrame,
    k: int,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """fit + final assignment in one call: (id, cell_id)."""
    # lazy checkpoint: the seeding TakeOrdered is the first action and
    # scans every partition, so it materializes the pin itself — one
    # job instead of two (safe here: the driver loop is sequential,
    # unlike the concurrent-consumer case graph.py pins eagerly)
    pts = points.select(id_col, vec_col).localCheckpoint(eager=False)
    cells = _fit_codebook(
        pts, k, iterations, id_col, vec_col, round_to
    )
    if not cells:
        return pts.select(
            id_col, F.lit(None).cast("int").alias("cell_id")
        ).filter(F.lit(False))
    return (
        _with_cell(pts, vec_col, cells, round_to, "cell_id")
        .filter(F.col("cell_id").isNotNull())
        .select(id_col, "cell_id")
    )
