"""Stage 4 tests: connected components vs a pure-Python BFS oracle,
canonicalization quality on the alias vocabulary."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from clip_retrieval_spark.fixtures import ENTITY_ALIASES, pages_df
from clip_retrieval_spark.operators import cc
from clip_retrieval_spark.operators.cc import connected_components
from clip_retrieval_spark.operators.embed import entities_df, mentions_df
from clip_retrieval_spark.operators.extract import extract_pages
from clip_retrieval_spark.operators.link import surface_link_topk
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
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_cc_simple_shapes(spark):
    # chain, triangle+isolated pair, self-loop, star
    cases = [
        [(1, 2), (2, 3), (3, 4)],
        [(10, 11), (11, 12), (12, 10), (20, 21)],
        [(5, 5), (5, 6)],
        [(100, i) for i in range(101, 120)],
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
