"""Stage 3c — entity linking: candidate blocking + broadcast top-k cosine.

The Spark restatement of the reference's knn query path
(reference clip_back.py:343-417: index.search -> trim -> dedup -> top-k
-> metadata join), run for every mention in the corpus at once instead
of one HTTP request at a time (clip_back.py:472-507).

One physical strategy, ``entity_pairs``: the entity table is joined to
itself on shared MinHash-LSH band keys, each side computing the band
table as a narrow per-row projection (``lsh.lsh_explode``), with
``F.broadcast`` on the linked side, so the candidate join is a
broadcast-hash join. The entity table holds one row per distinct
surface, already embedded, so the pairs are scored by the embeddings it
holds and no Python runs. Linking keeps each surface's top k of them;
the stage-4 alias merge (``materialize.entity_merge_edges``) keeps the
pairs above its cosine threshold, so the build blocks and scores the
entity table one way. Mentions pick up their surface's links through
one equi-join on surface (``mention_links``).

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


def entity_pairs(entities: DataFrame) -> DataFrame:
    """Every pair of rows of ``entities(entity_id, surface, embedding)``
    that share an LSH band, scored once by the dot of the embeddings the
    table holds (unit vectors, so cosine). Each row is one ordered pair:
    ``src``/``surface``/``s_emb`` is the linking side,
    ``entity_id``/``_e_surface``/``e_emb`` the linked side, ``score``
    their cosine; both orders and the self-pair are present.

    Both sides compute the same narrow band projection and the linked
    side is broadcast, so the candidate join is a broadcast-hash join
    and the only shuffle is the pair dedup. A bucket of m rows
    yields m^2 pairs with no cap: this fits the entity table (one row
    per distinct surface), not a document corpus, which blocks through
    ``lsh.candidate_pairs`` instead."""
    bands = lsh_explode(entities, "surface")
    s = bands.select(
        F.col("entity_id").alias("src"), "surface", "band", "sig",
        F.col("embedding").alias("s_emb"),
    )
    e = bands.select(
        "entity_id", F.col("surface").alias("_e_surface"), "band", "sig",
        F.col("embedding").alias("e_emb"),
    )
    return (
        s.join(F.broadcast(e), ["band", "sig"])
        # a surface/entity pair can share many bands; score each once
        .dropDuplicates(["surface", "entity_id"])
        .withColumn("score", dot("s_emb", "e_emb"))
    )


def surface_link_topk(entities: DataFrame, k: int = 3) -> DataFrame:
    """surface_links(surface, entity_id, score, rank) with rank 1..k:
    every surface of ``entities(entity_id, surface, embedding)`` linked
    against that same table, keeping its ``entity_pairs`` with score >=
    ``MIN_SCORE``. It runs over distinct surfaces, orders of magnitude
    fewer than mentions under Zipf skew (the reference caches encodings
    the same way, clip_back.py:671); ``mention_links`` fans the result
    out to mentions."""
    cand = entity_pairs(entities).filter(F.col("score") >= MIN_SCORE)
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
