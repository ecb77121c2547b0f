"""Stage 4 tests: connected components vs a pure-Python BFS oracle,
canonicalization quality on the alias vocabulary."""

from __future__ import annotations

import hashlib
import random
import string

import pytest

from pyspark.sql import functions as F

from clip_retrieval_spark.fixtures import ENTITY_ALIASES, pages_df
from clip_retrieval_spark.operators import cc
from clip_retrieval_spark.operators.cc import connected_components
from clip_retrieval_spark.operators.embed import entities_df, mentions_df
from clip_retrieval_spark.operators.extract import extract_pages
from clip_retrieval_spark.operators.link import surface_link_topk
from clip_retrieval_spark.operators.lsh import lsh_explode
from clip_retrieval_spark.operators.materialize import (
    canonical_map,
    entity_merge_edges,
    materialize_edges,
    normalized_surface,
)
from clip_retrieval_spark.operators.triples import extract_triples_df


def _bfs_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp: dict[int, int] = {}
    for start in adj:
        if start in comp:
            continue
        stack, seen = [start], {start}
        while stack:
            u = stack.pop()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        root = min(seen)
        for u in seen:
            comp[u] = root
    return comp


def _run_cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df).collect()
    got = {r["node"]: r["component"] for r in rows}
    # one row per node: the dict above would hide a duplicated row
    assert len(rows) == len(got), edges
    return got


def test_cc_simple_shapes(spark):
    # chain, triangle+isolated pair, self-loop, star; then repeated
    # edges, both orientations and self-loops, on a connected node and
    # on a node with no other edge
    cases = [
        [(1, 2), (2, 3), (3, 4)],
        [(10, 11), (11, 12), (12, 10), (20, 21)],
        [(5, 5), (5, 6)],
        [(100, i) for i in range(101, 120)],
        [(3, 1), (1, 3), (3, 1), (2, 3), (3, 3), (9, 9), (9, 9), (4, 5),
         (5, 4), (4, 5), (5, 6), (6, 6), (2, 3), (3, 2), (7, 6)],
    ]
    for edges in cases:
        got = _run_cc(spark, edges)
        want = _bfs_components([e for e in edges if e[0] != e[1]])
        assert got == want, edges


def test_cc_random_graph_matches_bfs_oracle(spark):
    rng = random.Random(7)
    nodes = list(range(1, 400))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    assert _run_cc(spark, edges) == _bfs_components(edges)


def test_cc_hub_skew(spark):
    # one hub connected to 1000 nodes plus a long tail chain
    edges = [(0, i) for i in range(1, 1001)] + [(2000 + i, 2001 + i) for i in range(50)]
    got = _run_cc(spark, edges)
    assert all(got[i] == 0 for i in range(1001))
    assert len({got[2000 + i] for i in range(51)}) == 1


def test_cc_two_parent_round_is_not_a_fixpoint(spark):
    """The path 1-3-4-5-2: after one round the edges are 3->1, 3->2,
    4->1, 5->2 — no dst is a src, but node 3 has two parents, so the
    loop must go on until 1 and 2 are one component."""
    edges = [(1, 3), (3, 4), (4, 5), (5, 2)]
    first = cc._small_star(cc._large_star(
        spark.createDataFrame(edges, "src long, dst long")))
    assert sorted(tuple(r) for r in first.collect()) == [
        (3, 1), (3, 2), (4, 1), (5, 2)]
    assert not cc._is_star_forest(first)
    assert _run_cc(spark, edges) == _bfs_components(edges)


def test_cc_star_forest_takes_one_round(spark, monkeypatch):
    rounds = []
    small_star = cc._small_star

    def counting(edges):
        rounds.append(1)
        return small_star(edges)

    monkeypatch.setattr(cc, "_small_star", counting)
    edges = [(1, i) for i in range(2, 9)] + [(20, 21), (20, 22)]
    assert _run_cc(spark, edges) == _bfs_components(edges)
    assert len(rounds) == 1
    rounds.clear()
    # a chain is one parent per node, but not yet stars
    chain = [(i, i + 1) for i in range(1, 12)]
    assert _run_cc(spark, chain) == _bfs_components(chain)
    assert len(rounds) > 1


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_normalized_surface(spark):
    rows = spark.createDataFrame(
        [("Acme Corp",), ("Acme Corporation!",), ("ACME",), ("Inc. Corp",)],
        "s string",
    ).select(normalized_surface("s").alias("n")).collect()
    assert [r["n"] for r in rows] == ["acme", "acme", "acme", "inc corp"]


@pytest.fixture(scope="module")
def stage4(spark):
    tr = extract_triples_df(extract_pages(pages_df(spark, 150))).cache()
    m = mentions_df(tr).cache()
    e = entities_df(m).cache()
    surface_links = surface_link_topk(e, k=3).cache()
    nodes = canonical_map(e, entity_merge_edges(e)).cache()
    return tr, m, e, surface_links, nodes


def test_alias_groups_canonicalize(stage4):
    _tr, _m, _e, _links, nodes = stage4
    by_surface = {r["surface"]: r["canonical_id"] for r in nodes.collect()}
    for group in ENTITY_ALIASES:
        seen = {by_surface[s] for s in group if s in by_surface}
        assert len(seen) == 1, group
    reps = [
        by_surface[g[0]] for g in ENTITY_ALIASES if g[0] in by_surface
    ]
    assert len(set(reps)) == len(reps)  # no cross-group merges


def test_canonical_id_is_component_min(stage4):
    _tr, _m, _e, _links, nodes = stage4
    agg = nodes.groupBy("canonical_id").agg(
        F.min("entity_id").alias("mn")
    )
    assert agg.filter("canonical_id != mn").count() == 0


def test_materialized_edges_conserve_triples(stage4):
    tr, _m, _e, surface_links, nodes = stage4
    kg = materialize_edges(tr, surface_links, nodes)
    assert kg.count() == tr.count()
    assert kg.filter(
        "canonical_subj is null or canonical_obj is null"
    ).count() == 0


# corporate designators from materialize.ORG_SUFFIXES, in display case
_SUFFIXES = ("Corp", "Inc", "Labs", "Holdings", "Group", "Ltd", "Systems")


def _variant_surfaces(n_stems: int = 130, seed: int = 12) -> list[str]:
    """Seeded alias vocabulary: random stems, each with typo variants
    (adjacent swap, dropped letter, doubled letter) and corporate-suffix
    variants — the near-duplicate shape the alias merge exists for."""
    rng = random.Random(seed)
    out: set[str] = set()
    for _ in range(n_stems):
        w = "".join(
            rng.choice(string.ascii_lowercase)
            for _ in range(rng.randint(5, 10))
        ).capitalize()
        i = rng.randrange(1, len(w) - 1)
        out.update((
            w,
            w[:i] + w[i + 1] + w[i] + w[i + 2:],
            w[:i] + w[i + 1:],
            w[:i] + w[i] + w[i:],
            f"{w} {rng.choice(_SUFFIXES)}",
            f"{w[:i] + w[i + 1:]} {rng.choice(_SUFFIXES)}",
        ))
    return sorted(out)


@pytest.fixture(scope="module")
def variant_entities(spark):
    surfaces = _variant_surfaces()
    assert len(surfaces) >= 500
    return entities_df(
        spark.createDataFrame([(s,) for s in surfaces], "surface string")
    ).cache()


# md5 of the sorted "src,dst" lines of entity_merge_edges(e, t) on the
# 778-surface variant table (295 and 261 edges), taken with the merge's
# own LSH self-join before it reused linking's blocking step
MERGE_EDGE_MD5 = {
    0.85: "f3cb6f9dae600ec89ce06da90a27eb13",
    0.95: "5b8c808866029c01db8f4bb55c820b34",
}


@pytest.mark.parametrize("threshold", sorted(MERGE_EDGE_MD5))
def test_merge_edges_pinned_on_variant_table(variant_entities, threshold):
    rows = sorted(
        (r["src"], r["dst"])
        for r in entity_merge_edges(variant_entities, threshold).collect()
    )
    got = hashlib.md5(
        "\n".join(f"{a},{b}" for a, b in rows).encode()
    ).hexdigest()
    assert got == MERGE_EDGE_MD5[threshold], (len(rows), got)


# md5 of the sorted "entity_id,band,sig" lines of lsh_explode(e,
# "surface"), taken while the signatures were a groupBy over exploded
# shingle rows joined back on a text-hash key: 6,224 rows for the
# variant table, 64 for the edge-case table below
LSH_EXPLODE_MD5 = {
    "variant": "2b2a1e6c09f4fbb90be36c83f34c1640",
    "edge": "212f38655055a9e0d432b3388a7f7c2f",
}


def _edge_surfaces(spark):
    """null, empty, shorter than a shingle, one surface on two rows,
    non-ASCII text and a 500-character string."""
    long_text = "".join(chr(97 + (i * 7) % 26) for i in range(500))
    return spark.createDataFrame(
        [
            (1, None), (2, ""), (3, "a"), (4, "ab"), (5, "Acme Corp"),
            (6, "Acme Corp"), (7, "Zürich Straße 東京"), (8, long_text),
        ],
        "entity_id long, surface string",
    )


@pytest.mark.parametrize("table", sorted(LSH_EXPLODE_MD5))
def test_lsh_explode_pinned(spark, variant_entities, table):
    df = variant_entities if table == "variant" else _edge_surfaces(spark)
    out = lsh_explode(df, "surface")
    assert out.columns == [*df.columns, "band", "sig"]
    rows = sorted(
        (r["entity_id"], r["band"], r["sig"])
        for r in out.select("entity_id", "band", "sig").collect()
    )
    got = hashlib.md5(
        "\n".join(f"{i},{b},{s}" for i, b, s in rows).encode()
    ).hexdigest()
    assert got == LSH_EXPLODE_MD5[table], (len(rows), got)


def test_variant_table_buckets_stay_small(variant_entities):
    """The pins above hold for any blocking that scores every pair of a
    shared LSH bucket; this keeps every bucket of the table well below
    256 surfaces, where a bucket cap would change the edge set."""
    largest = (
        lsh_explode(variant_entities, "surface")
        .groupBy("band", "sig").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert largest < 256


def _dot64(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


@pytest.mark.parametrize("threshold", [0.85, 0.95])
def test_merge_cosine_edges_are_exactly_the_banded_pairs(stage4, threshold):
    """Normalization edges point at the group minimum (src > dst), so
    the src < dst rows are the cosine edges: each scores >= threshold
    (float64, left to right), and every pair sharing an LSH band that
    scores >= threshold is one of them."""
    _tr, _m, e, _links, _nodes = stage4
    emb = {r["entity_id"]: r["embedding"] for r in e.collect()}
    cos = {
        (r["src"], r["dst"])
        for r in entity_merge_edges(e, threshold).collect()
        if r["src"] < r["dst"]
    }
    assert all(_dot64(emb[a], emb[b]) >= threshold for a, b in cos)
    buckets: dict = {}
    for r in lsh_explode(e, "surface").select(
        "band", "sig", "entity_id"
    ).collect():
        buckets.setdefault((r["band"], r["sig"]), set()).add(r["entity_id"])
    banded = {
        (a, b)
        for ids in buckets.values()
        for a in ids
        for b in ids
        if a < b and _dot64(emb[a], emb[b]) >= threshold
    }
    assert banded <= cos
