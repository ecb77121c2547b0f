"""Stage 4a — connected components by alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", public
algorithm), expressed as DataFrame ops with a driver-side convergence loop.

Replaces the reference's driver-side BFS over an in-RAM neighbor map
(reference clip_back.py:270-288 connected_components + 290-309
get_non_uniques), which cannot exist at 10^12 nodes.

Scale mechanics:
* min-neighbor per node is an ALGEBRAIC aggregate -> map-side partial
  aggregation absorbs hub-node skew before the shuffle;
* the edges-join-minlabel step is an equi-join on the node id — AQE
  skew-join splits hub partitions;
* ``localCheckpoint`` truncates lineage every iteration (driver loops,
  SURVEY.md §4 item 2) so plans don't grow unboundedly;
* expected O(log n) rounds; the loop stops at the first round whose
  output is a star forest (the fixpoint), with no extra confirming
  round; ``MAX_ITER`` rounds bound runaways and raise.

All functions take/return edge DataFrames with columns (src, dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITER = 50


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected neighbor list as directed pairs (u, v), u != v.

    Duplicates are left in: ``min`` is idempotent, and the round's final
    ``distinct`` (end of ``_small_star``) absorbs every duplicate row they
    carry forward.
    """
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    return fwd.unionByName(rev).filter(F.col("u") != F.col("v"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of each u to min(N(u) ∪ {u})."""
    sym = _sym(edges)
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient (larger -> smaller); connect each node's smaller
    neighborhood (plus itself) to its min. The output is distinct and
    every edge points larger -> smaller."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"),
        F.least("src", "dst").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr = oriented.join(mins, "u").select(
        F.col("v").alias("src"), F.col("m").alias("dst")
    )
    self_link = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        nbr.unionByName(self_link)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the distinct larger -> smaller ``edges`` are a forest of
    stars: every src has exactly one dst and no dst is a src. Both are
    needed — small-star can leave a node with two parents, and a chain
    has one parent per node. A round over a star forest returns it
    unchanged, so this is the fixpoint test; one algebraic aggregation
    on the node (skew-safe, like the min-neighbor step)."""
    as_src = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("out"), F.lit(0).alias("into")
    )
    as_dst = edges.select(
        F.col("dst").alias("node"), F.lit(0).alias("out"), F.lit(1).alias("into")
    )
    per_node = as_src.unionByName(as_dst).groupBy("node").agg(
        F.sum("out").alias("out"), F.max("into").alias("into")
    )
    return per_node.filter(
        (F.col("out") > 1) | ((F.col("out") == 1) & (F.col("into") == 1))
    ).isEmpty()


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src long, dst long) -> assignments(node long, component long),
    component = min node id of the connected component.

    Isolated nodes (absent from ``edges``) are the caller's concern
    (see ``materialize.canonical_map``: they map to themselves).

    The input needs no cleaning: ``_sym`` and ``_small_star`` drop
    self-loops, and the first round's ``distinct`` absorbs duplicate
    edges.
    """
    cur = edges.select("src", "dst").localCheckpoint(eager=True)
    for _ in range(MAX_ITER):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        if _is_star_forest(cur):
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within {MAX_ITER} iterations"
        )
    # at fixpoint the graph is a forest of stars: src -> root(= component
    # min). Every src has one dst and no dst is a src, so leaves and
    # roots are disjoint and each is distinct: the union needs no
    # distinct of its own
    roots = (
        cur.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    leaves = cur.select(
        F.col("src").alias("node"), F.col("dst").alias("component")
    )
    return leaves.unionByName(roots)
