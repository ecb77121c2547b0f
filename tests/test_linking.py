"""Stage 3 tests: embeddings, LSH blocking, top-k linking."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from clip_retrieval_spark.fixtures import pages_df
from clip_retrieval_spark.entry_queries import KG_LINKS_TOPK_VALUES
from clip_retrieval_spark.operators.embed import (
    DIM,
    ENTITIES_FIELDS,
    _ngram_features,
    embed_batch,
    entities_df,
    mentions_df,
    stable_id63,
)
from clip_retrieval_spark.operators.extract import extract_pages
from clip_retrieval_spark.operators.lsh import (
    CHAIN_SALTS,
    candidate_pairs,
    lsh_explode,
)
from clip_retrieval_spark.operators.link import (
    MIN_SCORE,
    mention_links,
    surface_link_topk,
)
from clip_retrieval_spark.operators.triples import extract_triples_df

N = 150


@pytest.fixture(scope="module")
def stage3(spark):
    tr = extract_triples_df(extract_pages(pages_df(spark, N))).cache()
    m = mentions_df(tr).cache()
    e = entities_df(m).cache()
    links = mention_links(m, surface_link_topk(e, k=3)).cache()
    return tr, m, e, links


def test_embedding_is_unit_norm_and_deterministic():
    a = _ngram_features("Acme Corp")
    b = _ngram_features("Acme Corp")
    assert a.dtype == np.float32 and a.shape == (DIM,)
    assert np.array_equal(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-6


def test_stable_id_is_stable_and_positive():
    x = stable_id63("u", "1", "s", "Acme")
    assert x == stable_id63("u", "1", "s", "Acme")
    assert 0 < x < 2**63
    assert x != stable_id63("u", "1", "o", "Acme")


def test_mentions_cover_triples(stage3, spark):
    tr, m, e, links = stage3
    n_triples = tr.count()
    # every triple contributes a subj and an obj mention (deduped per
    # url/sent/role/surface); mention count is bounded by 2x triples
    assert 0 < m.count() <= 2 * n_triples
    assert m.filter("mention_id is null or mention_id < 0").count() == 0


def test_identical_surfaces_share_all_lsh_buckets(stage3, spark):
    _tr, m, _e, _links = stage3
    sample = m.limit(200)
    ex = lsh_explode(sample.select("mention_id", "surface"), "surface")
    rows = ex.select("surface", "band", "sig").collect()
    by_surface: dict[str, set] = {}
    for r in rows:
        by_surface.setdefault(r["surface"], set()).add((r["band"], r["sig"]))
    # identical strings must produce identical signature sets
    ex2 = lsh_explode(sample.select("surface").distinct(), "surface")
    for r in ex2.select("surface", "band", "sig").collect():
        assert (r["band"], r["sig"]) in by_surface[r["surface"]]


def test_rank1_link_is_exact_surface_match(stage3, spark):
    _tr, m, e, links = stage3
    r1 = links.filter("rank = 1")
    assert r1.count() == m.count()  # every mention linked
    joined = (
        r1.join(m.select("mention_id", "surface"), "mention_id")
        .join(
            e.selectExpr("entity_id", "surface as e_surface"), "entity_id"
        )
    )
    assert joined.filter("surface != e_surface").count() == 0
    # exact match => cosine 1.0
    assert joined.filter("abs(score - 1.0) > 1e-5").count() == 0


def test_topk_rank_contract(stage3):
    _tr, _m, _e, links = stage3
    # ranks are 1..k, contiguous, scores non-increasing within a mention
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("mention_id").orderBy("rank")
    bad = (
        links.withColumn("prev_score", F.lag("score").over(w))
        .withColumn("prev_rank", F.lag("rank").over(w))
        .filter(
            (F.col("prev_score") < F.col("score") - 1e-6)
            | (
                F.col("prev_rank").isNotNull()
                & (F.col("rank") != F.col("prev_rank") + 1)
            )
        )
        .count()
    )
    assert bad == 0
    assert links.filter("rank > 3").count() == 0


VOCAB = [f"Entity{i}" for i in range(40)]


def _dot64(a, b) -> float:
    """float64 dot accumulated left to right, as functions.vectors.dot."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _linked(e):
    """surface_link_topk(e, k=3) as {(surface, rank): (linked, score)}."""
    sl = surface_link_topk(e, k=3).join(
        e.selectExpr("entity_id", "surface as linked"), "entity_id"
    )
    return {
        (r["surface"], r["rank"]): (r["linked"], r["score"])
        for r in sl.collect()
    }


def test_closed_vocabulary_recall(spark):
    # LSH blocking has full recall on the gate vocabulary: the operator's
    # top-3 equals an exact all-pairs numpy top-3 over the same
    # embeddings, ordered (score DESC, linked surface ASC)
    e = entities_df(
        spark.createDataFrame([(s,) for s in VOCAB], "surface string")
    ).cache()
    got = _linked(e)
    emb = dict(zip(VOCAB, embed_batch(pd.Series(VOCAB))))
    want = {}
    for s in VOCAB:
        scored = sorted(
            (-_dot64(emb[s], emb[t]), t) for t in VOCAB
        )
        top = [(t, -neg) for neg, t in scored if -neg >= MIN_SCORE][:3]
        for rank, (t, score) in enumerate(top, 1):
            want[(s, rank)] = (t, score)
    assert len(want) == 120
    assert got.keys() == want.keys()
    for key, (t, score) in want.items():
        assert got[key][0] == t, key
        assert abs(got[key][1] - score) <= 1e-6, key
    # ... and equals the 120 rows the kg_links oracle pins
    pinned = re.findall(
        r"\('(\w+)','(\w+)',([0-9.]+),(\d+)\)", KG_LINKS_TOPK_VALUES
    )
    assert len(pinned) == 120
    assert {(s, int(r)) for s, _, _, r in pinned} == got.keys()
    for s, t, score, r in pinned:
        assert got[(s, int(r))][0] == t, (s, r)
        assert abs(got[(s, int(r))][1] - float(score)) <= 1e-6, (s, r)


def test_links_score_the_supplied_embeddings(spark):
    # linking scores the embeddings the entity table holds — it does not
    # re-embed either side. These vectors are not the featurizer's for
    # the surface, so a second embedding pass would change every score.
    emb = dict(zip(VOCAB, embed_batch(pd.Series([s + "#" for s in VOCAB]))))
    e = spark.createDataFrame(
        [(stable_id63("entity", s), s, [float(x) for x in emb[s]])
         for s in VOCAB],
        ENTITIES_FIELDS,
    )
    got = _linked(e)
    assert got
    for (s, _rank), (t, score) in got.items():
        assert abs(score - _dot64(emb[s], emb[t])) <= 1e-6, (s, t)
    for s in VOCAB:
        t, score = got[(s, 1)]
        assert t == s and abs(score - 1.0) <= 1e-6, s


def _is_spanning_tree(edges, nodes):
    """Union-find check: edges connect exactly `nodes` as one component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        assert a in parent and b in parent
        parent[find(a)] = find(b)
    return len({find(n) for n in nodes}) == 1


def test_candidate_pairs_bucket_cap(spark):
    # 300 identical surfaces -> one hot bucket per band; over-cap buckets
    # contribute a SPANNING TREE (m-1 edges via the salted two-level
    # chain), never the m^2/2 blowup — and never silently vanish
    # (duplicates must merge)
    from pyspark.sql import functions as F

    df = spark.range(300).select(
        F.col("id").alias("entity_id"), F.lit("Same Name").alias("surface")
    )
    chained = candidate_pairs(df, max_bucket=100).collect()
    edges = {(r["a"], r["b"]) for r in chained}
    assert len(edges) == 299  # exactly m-1 distinct edges
    assert _is_spanning_tree(edges, set(range(300)))
    assert candidate_pairs(df, max_bucket=1000).count() == 300 * 299 // 2


def test_candidate_pairs_pathological_bucket_bounded_tasks(spark):
    # A 10^5-member single-signature bucket: the two-level salted chain
    # must (a) still connect every member into ONE component and (b)
    # never put the whole bucket into one window task — the largest
    # within-cell window group is ~m/CHAIN_SALTS.
    from pyspark.sql import functions as F

    m, salts = 100_000, CHAIN_SALTS
    df = spark.range(m).select(
        F.col("id").alias("entity_id"), F.lit("hot").alias("surface")
    )
    edges = {
        (r["a"], r["b"])
        for r in candidate_pairs(df, max_bucket=1000).collect()
    }
    assert len(edges) == m - 1
    assert _is_spanning_tree(edges, set(range(m)))
    # level-1 window groups are (band, sig, salt) cells: xxhash64 salting
    # spreads m members over `salts` cells, so the max cell is far below
    # the whole-bucket size that the unsalted chain would sort in one task
    cells = (
        df.withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(F.lit("chain"), F.col("entity_id")),
                F.lit(salts),
            ),
        )
        .groupBy("_salt")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert cells < m // 16  # ~m/64 expected; wide margin vs m
