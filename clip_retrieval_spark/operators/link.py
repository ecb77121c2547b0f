"""Stage 3c — entity linking: candidate blocking + broadcast top-k cosine.

The Spark restatement of the reference's knn query path
(reference clip_back.py:343-417: index.search -> trim -> dedup -> top-k
-> metadata join), run for every mention in the corpus at once instead
of one HTTP request at a time (clip_back.py:472-507).

One physical strategy: the entity table is joined to itself on shared
MinHash-LSH band keys, one band table feeding both sides, with
``F.broadcast`` on the linked side, so the candidate join is a
broadcast-hash join. The entity table holds one row per distinct
surface, already embedded, so linking scores the embeddings it holds
and runs no Python. Mentions pick up their surface's links through one
equi-join on surface (``mention_links``).

Top-k uses a total order (score DESC, linked surface ASC) — faiss
breaks ties by internal order (clip_back.py:362), which is
non-deterministic for us, so the order is pinned (SURVEY.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clip_retrieval_spark.functions.vectors import dot
from clip_retrieval_spark.operators.lsh import lsh_explode

LINKS_COLUMNS = ("mention_id", "entity_id", "score", "rank")

# range-search threshold analog (reference clip_filter.py:51-53;
# threshold 0.94 at clip_back.py:292)
MIN_SCORE = 0.5


def surface_link_topk(entities: DataFrame, k: int = 3) -> DataFrame:
    """surface_links(surface, entity_id, score, rank) with rank 1..k:
    every surface of ``entities(entity_id, surface, embedding)`` linked
    against that same table by the dot of the embeddings it holds (unit
    vectors, so cosine). It runs over distinct surfaces, orders of
    magnitude fewer than mentions under Zipf skew (the reference caches
    encodings the same way, clip_back.py:671); ``mention_links`` fans
    the result out to mentions."""
    bands = lsh_explode(entities, "surface")
    s = bands.select(
        "surface", "band", "sig", F.col("embedding").alias("s_emb")
    )
    e = bands.select(
        "entity_id", F.col("surface").alias("_e_surface"), "band", "sig",
        F.col("embedding").alias("e_emb"),
    )
    cand = (
        s.join(F.broadcast(e), ["band", "sig"])
        # a surface/entity pair can share many bands; score each once
        .dropDuplicates(["surface", "entity_id"])
        .withColumn("score", dot("s_emb", "e_emb"))
        .filter(F.col("score") >= MIN_SCORE)
    )
    # Tie-break by the LINKED SURFACE (not the entity id hash): equally
    # deterministic — entity surfaces are distinct — but legible and
    # SQL-expressible, which lets the correctness oracle pin expected
    # ranks. faiss breaks ties by internal order (clip_back.py:362),
    # which is non-deterministic for us, so a pinned total order is
    # required either way (SURVEY.md §7.5).
    # ... with entity_id as the last resort so the order stays TOTAL
    # even for caller-supplied entity tables with duplicate surfaces
    # (the operator is public; uniqueness is convention, not contract).
    w = Window.partitionBy("surface").orderBy(
        F.desc("score"), F.asc("_e_surface"), F.asc("entity_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("surface", "entity_id",
                F.col("score").cast("float").alias("score"), "rank")
    )


def mention_links(
    mentions: DataFrame, surface_links: DataFrame
) -> DataFrame:
    """links(mention_id, entity_id, score, rank): each mention takes its
    surface's ``surface_link_topk`` rows (one equi-join on surface; AQE
    broadcasts the surface-links side when it fits)."""
    return mentions.select("mention_id", "surface").join(
        surface_links, "surface"
    ).select(*LINKS_COLUMNS)
