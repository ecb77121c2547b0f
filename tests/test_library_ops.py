"""Library operator tests: dedup, similarity search, multimodal
plumbing, file sources, streaming metrics rollup."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from clip_retrieval_spark.operators.dedup import (
    dedup_stats,
    exact_dedup,
    near_dedup_minhash,
    simhash64,
)
from clip_retrieval_spark.operators.similarity import (
    brute_force_topk,
    rp_lsh_topk,
)


# --- dedup -------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (3, "the quick brown fox jumps over the lazy cat"),   # near dup
        (4, "completely different content about spark engines"),
        (5, "completely different content about spark engines here"),
        (6, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_keeps_min_id(docs):
    kept = exact_dedup(docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 1 in ids and 2 not in ids
    assert ids == {1, 3, 4, 5, 6}
    stats = {
        r["keeper"]: r["n_copies"]
        for r in dedup_stats(docs, ["text"], "doc_id").collect()
    }
    assert stats[1] == 2 and stats[3] == 1


def test_near_dedup_minhash_groups(docs):
    out = near_dedup_minhash(
        docs, "doc_id", "text", jaccard_threshold=0.5, band_rows=2,
    )
    canon = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
    assert len(canon) == 6
    assert canon[1] == canon[2] == canon[3]  # exact + near dup merge
    assert canon[4] == canon[5]
    assert canon[6] == 6
    assert canon[1] != canon[4] != canon[6]


def test_simhash_similar_docs_close(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[2]  # identical docs, identical fingerprints
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far


# --- similarity ---------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return emb.cache()


def test_brute_force_topk_matches_numpy(spark, vectors):
    rows = vectors.orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    q = vectors.filter("vec_id < 3").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    c = vectors.selectExpr("vec_id as cid", "embedding as c_emb")
    got = brute_force_topk(q, c, k=5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cid"]))
    for qi in range(3):
        sims = V @ V[ids.index(qi)]
        order = sorted(
            range(len(ids)), key=lambda j: (-round(sims[j], 9), ids[j])
        )[:5]
        want = [ids[j] for j in order]
        gotl = [cid for (_rk, cid) in sorted(by_q[qi])]
        assert gotl == want, (qi, gotl, want)


def test_rp_lsh_topk_recall(spark, vectors):
    """LSH recall@5 vs brute force. These embeddings are near-random
    (top-5 cosine ~0.3-0.5, i.e. ~65-72 deg), so per-bit collision
    p ~ 0.6 and recall needs shallow buckets + many tables:
    4 bits x 8 tables => expected recall ~ 1-(1-0.6^4)^8 ~ 0.7."""
    q = vectors.filter("vec_id < 20").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    c = vectors.selectExpr("vec_id as cid", "embedding as c_emb")
    exact = brute_force_topk(q, c, k=5)
    approx = rp_lsh_topk(q, c, dim=64, k=5, n_bits=4, n_tables=8)
    e = {(r["qid"], r["cid"]) for r in exact.collect()}
    a = {(r["qid"], r["cid"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall


def test_rp_lsh_self_match(spark, vectors):
    """Every query must find itself (same bucket in every table)."""
    q = vectors.filter("vec_id < 10").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    c = vectors.selectExpr("vec_id as cid", "embedding as c_emb")
    out = rp_lsh_topk(q, c, dim=64, k=1, n_bits=8, n_tables=2)
    top1 = {r["qid"]: r["cid"] for r in out.filter("rank=1").collect()}
    assert top1 == {i: i for i in range(10)}


def test_block_allpairs_cosine_exact(spark, vectors):
    """The distributed block-pair range join must equal the exhaustive
    numpy answer exactly (pairs, scores, no dups) for any block count."""
    from clip_retrieval_spark.operators.similarity import (
        block_allpairs_cosine,
    )

    rows = vectors.orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    S = np.round(V @ V.T, 6)
    iu = np.triu_indices(len(ids), 1)
    keep = S[iu] >= 0.35
    want = {
        (int(ids[i]), int(ids[j])): S[i, j]
        for i, j in zip(iu[0][keep], iu[1][keep])
    }
    for n_blocks in (1, 4, 7):
        got_rows = block_allpairs_cosine(
            vectors.select("vec_id", "embedding"), 0.35, n_blocks=n_blocks
        ).collect()
        got = {(r["a"], r["b"]): r["score"] for r in got_rows}
        assert len(got_rows) == len(got), "duplicate pairs emitted"
        assert got == want, (n_blocks, len(got), len(want))


def test_block_allpairs_auto_blocks(spark, vectors):
    """B must be derived from corpus size when n_blocks is omitted:
    grows linearly with n, and per-task matrix bytes (~2n/B * dim * 8)
    stay under the target."""
    from clip_retrieval_spark.operators.similarity import (
        auto_n_blocks,
        block_allpairs_cosine,
    )

    target = 64 << 10  # 64 KiB, tiny so the test corpus needs B > 1
    dim = 64
    n = vectors.count()
    b_small = auto_n_blocks(n, dim, target)
    b_big = auto_n_blocks(10 * n, dim, target)
    assert b_big >= 9 * b_small, (b_small, b_big)  # ~linear growth
    assert 2 * n * dim * 8 / b_small <= target  # task bytes bounded
    assert auto_n_blocks(0, dim, target) == 1
    assert auto_n_blocks(10**12, dim, target) == 4096  # clamped

    # auto path end-to-end: same exact answer as the fixed-B run
    auto = block_allpairs_cosine(
        vectors.select("vec_id", "embedding"), 0.35,
        target_task_bytes=target,
    ).collect()
    fixed = block_allpairs_cosine(
        vectors.select("vec_id", "embedding"), 0.35, n_blocks=4
    ).collect()
    assert {(r["a"], r["b"], r["score"]) for r in auto} == {
        (r["a"], r["b"], r["score"]) for r in fixed
    }


# --- multimodal plumbing -------------------------------------------------


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", 640, 480, None),
        (2, "image", b"", None, None, None),               # corrupt
        (3, "video", b"\x00\x00vid", 1280, 720, 3500),
        (4, "audio", b"RIFF fake", None, None, 2000),
    ]
    from clip_retrieval_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA).cache()


def test_feature_extraction_plumbing(media):
    from clip_retrieval_spark.operators.multimodal import extract_features

    out = extract_features(media).collect()
    by_id = {r["media_id"]: r for r in out}
    assert len(out) == 4
    assert by_id[2]["ok"] is False and by_id[2]["feature"] is None
    f = np.array(by_id[1]["feature"], dtype=np.float64)
    assert abs(np.linalg.norm(f) - 1.0) < 1e-5
    # deterministic across runs
    again = {
        r["media_id"]: r["feature"]
        for r in extract_features(media).collect()
    }
    assert again[1] == by_id[1]["feature"]


def test_frame_sampling_flatmap_shape(media):
    from clip_retrieval_spark.operators.multimodal import sample_frames

    frames = sample_frames(media).collect()
    assert {r["media_id"] for r in frames} == {3}
    assert sorted(r["frame_idx"] for r in frames) == [0, 1, 2]


def test_thumbnails(media):
    from clip_retrieval_spark.operators.multimodal import resize_thumbnails

    t = resize_thumbnails(media, size=32).collect()
    assert len(t) == 4
    assert all(len(r["thumb"]) == 32 for r in t)


# --- sources --------------------------------------------------------------


def test_folder_scan_and_pairing(spark, tmp_path):
    from clip_retrieval_spark.sources.files import (
        folder_scan,
        pair_modalities,
    )

    d = tmp_path / "corpus"
    (d / "sub").mkdir(parents=True)
    (d / "a.txt").write_text("caption a")
    (d / "a.jpg").write_bytes(b"imga")
    (d / "sub" / "b.txt").write_text("caption b")
    (d / "sub" / "b.jpg").write_bytes(b"imgb")
    (d / "orphan.txt").write_text("no image")  # must be dropped by join

    scanned = folder_scan(spark, str(d), (".txt",))
    assert {r["key"] for r in scanned.collect()} == {"a", "sub/b", "orphan"}

    paired = pair_modalities(spark, str(d))
    rows = {r["key"]: r for r in paired.collect()}
    assert set(rows) == {"a", "sub/b"}
    assert bytes(rows["a"]["image"]) == b"imga"
    assert bytes(rows["a"]["text"]) == b"caption a"


def test_folder_scan_regex_metachar_path(spark, tmp_path):
    """Folder names with regex metacharacters must not corrupt keys —
    the prefix strip is positional (locate+substr), not a regex."""
    from clip_retrieval_spark.sources.files import folder_scan

    d = tmp_path / "c+orpus (v1.2) [x]"
    d.mkdir()
    (d / "a.txt").write_text("alpha")
    scanned = folder_scan(spark, str(d), (".txt",))
    assert {r["key"] for r in scanned.collect()} == {"a"}


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    """S9/S10: many small files -> target_files, rows conserved."""
    import os

    from clip_retrieval_spark.sources.files import compact

    src = spark.range(1000).repartition(16)
    out = str(tmp_path / "compacted")
    compact(src, out, target_files=2)
    files = [
        f for f in os.listdir(out) if f.endswith(".parquet")
    ]
    assert len(files) == 2
    got = spark.read.parquet(out)
    assert got.count() == 1000
    assert {r["id"] for r in got.collect()} == set(range(1000))


# --- streaming metrics -----------------------------------------------------


def test_streaming_metrics_rollup(spark, tmp_path):
    import json

    from clip_retrieval_spark.streaming.metrics import rollup_metrics_once

    mdir = tmp_path / "metrics"
    mdir.mkdir()
    recs = [
        {"stage": "extract", "run_id": "r1", "at": 1700000000.0,
         "rows": 100, "wall_ms": 1000, "buckets": 4},
        {"stage": "extract", "run_id": "r1", "at": 1700000010.0,
         "rows": 50, "wall_ms": 500, "buckets": 2},
        {"stage": "triples", "run_id": "r1", "at": 1700000100.0,
         "rows": 700, "wall_ms": 2000, "buckets": 4},
    ]
    with open(mdir / "m.jsonl", "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    rollup_metrics_once(
        spark, str(mdir), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {(r["stage"]): (r["rows"], r["reports"]) for r in out.collect()}
    assert rows["extract"] == (150, 2)
    assert rows["triples"] == (700, 1)

    # a late report lands in an already-emitted window: re-draining must
    # UPDATE that window's row in place (dynamic partition overwrite),
    # never append a second cumulative row a consumer would double-count
    with open(mdir / "m2.jsonl", "w") as f:
        f.write(json.dumps(
            {"stage": "extract", "run_id": "r1", "at": 1700000020.0,
             "rows": 25, "wall_ms": 250, "buckets": 1}
        ) + "\n")
    rollup_metrics_once(
        spark, str(mdir), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    out2 = spark.read.parquet(str(tmp_path / "out"))
    dup = out2.groupBy("minute", "stage").count().filter("count > 1")
    assert dup.count() == 0
    rows2 = {r["stage"]: (r["rows"], r["reports"]) for r in out2.collect()}
    assert rows2["extract"] == (175, 3)
    assert rows2["triples"] == (700, 1)


# --- data clustering (O6) ---------------------------------------------------


def test_clustered_write_orders_files(spark, tmp_path):
    from clip_retrieval_spark.io import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(10000).selectExpr(
        "cast(id * 7919 % 10000 as long) as k", "id as v"
    )
    store.clustered_write(df, "clustered", ["k"])
    # each parquet file must hold a disjoint sorted k-range
    import pyarrow.parquet as pq
    import os

    ranges = []
    tdir = str(tmp_path / "clustered")
    for name in sorted(os.listdir(tdir)):
        if name.endswith(".parquet"):
            t = pq.read_table(os.path.join(tdir, name), columns=["k"])
            ks = t["k"].to_pylist()
            if ks:
                assert ks == sorted(ks)  # sorted within file
                ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo  # disjoint ranges across files
    # and the rows survive intact
    assert store.read("clustered").count() == 10000


# --- as-of join ----------------------------------------------------------


def test_asof_join_semantics(spark):
    from clip_retrieval_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("u1", 1, 101), ("u1", 5, 102), ("u1", 5, 103), ("u2", 9, 201)],
        "user string, ts long, rid long",
    )
    left = spark.createDataFrame(
        [("u1", 0, 1), ("u1", 5, 2), ("u1", 7, 3), ("u2", 8, 4)],
        "user string, ts long, lid long",
    )
    got = {
        r["lid"]: r["right_rid"]
        for r in asof_join(
            left, right, on="user", tie_break="rid"
        ).collect()
    }
    # lid 1: nothing at-or-before ts 0 -> NULL
    # lid 2: non-strict sees the ts==5 rows; tie -> highest rid (103)
    # lid 3: latest right at ts<=7 is the ts==5 pair -> 103
    # lid 4: u2's only right row is at ts 9 > 8 -> NULL
    assert got == {1: None, 2: 103, 3: 103, 4: None}

    strict = {
        r["lid"]: r["right_rid"]
        for r in asof_join(
            left, right, on="user", tie_break="rid", strict=True
        ).collect()
    }
    # strict: the ts==5 left row no longer sees the ts==5 right rows
    assert strict == {1: None, 2: 101, 3: 103, 4: None}


# --- graph analytics ------------------------------------------------------


def test_degree_stats_path_graph(spark):
    from clip_retrieval_spark.operators.graph import degree_stats

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {
        r["degree"]: r["n_nodes"] for r in degree_stats(edges).collect()
    }
    assert got == {1: 2, 2: 1}  # a,c degree 1; b degree 2


def test_pagerank_path_graph_matches_hand_computation(spark):
    from clip_retrieval_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=2).collect()
    }
    # r0 = 1 everywhere; deg a=c=1, b=2
    # r1: a=c = 0.15+0.85*(1/2) = 0.575 ; b = 0.15+0.85*(1+1) = 1.85
    # r2: a=c = 0.15+0.85*(1.85/2) = 0.93625 ; b = 0.15+0.85*2*0.575 = 1.1275
    assert got == pytest.approx(
        {"a": 0.93625, "b": 1.1275, "c": 0.93625}
    )


# --- IVF ANN ---------------------------------------------------------------


def test_ivf_full_probe_equals_bruteforce(spark):
    from clip_retrieval_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).cache()
    q = emb.filter("vec_id < 5").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    c = emb.selectExpr("vec_id as cid", "embedding as c_emb")
    cents = emb.filter("vec_id % 12 = 0").selectExpr(
        "cast(vec_id as int) as cell_id", "embedding as centroid"
    )
    n_cells = cents.count()
    # probing EVERY cell makes IVF exhaustive -> must equal brute force
    ivf = ivf_topk(
        q, c, cents, k=5, nprobe=n_cells, exclude_self=True
    )
    bf = (
        brute_force_topk(q, c, k=6)
        .filter("qid != cid")
        .withColumn("score", F.round("score", 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    bf = (
        bf.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
    )
    assert sorted(map(tuple, ivf.collect())) == sorted(
        map(tuple, bf.collect())
    )


def test_ivf_partial_probe_recall(spark):
    """nprobe=2 of 5 cells still recovers most true neighbors (clustered
    data: neighbors share cells by construction)."""
    from clip_retrieval_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(5, 8))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, 20, axis=0) + 0.15 * rng.normal(size=(100, 8))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
        "vec_id long, embedding array<double>",
    ).cache()
    q = emb.filter("vec_id < 10").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    c = emb.selectExpr("vec_id as cid", "embedding as c_emb")
    cents = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(centers)],
        "cell_id int, centroid array<double>",
    )
    ivf = ivf_topk(q, c, cents, k=5, nprobe=2, exclude_self=True)
    bf = brute_force_topk(q, c, k=6).filter("qid != cid").filter(
        "rank <= 5"
    )
    ivf_set = {(r["qid"], r["cid"]) for r in ivf.collect()}
    bf_set = {(r["qid"], r["cid"]) for r in bf.collect()}
    recall = len(ivf_set & bf_set) / len(bf_set)
    assert recall >= 0.9, recall


# --- k-means (IVF codebook trainer) ----------------------------------------


def _np_kmeans_assign(V, ids, k, iterations, round_to=6):
    """Independent numpy oracle for operators.kmeans.kmeans_assign:
    same seeding, distance form, rounding, tie-break, and loop shape
    (N centroid updates, then one final assignment)."""

    def assign(cents):
        # cents: list of (cell_id, vector)
        out = {}
        for idx, i in enumerate(ids):
            best_d, best_cell = np.inf, None
            for cell, c in cents:
                d = round(float(np.dot(c, c) - 2 * np.dot(V[idx], c)),
                          round_to)
                if best_cell is None or d < best_d or (
                    d == best_d and cell < best_cell
                ):
                    best_d, best_cell = d, cell
            out[i] = best_cell
        return out

    seed_order = np.argsort(ids, kind="stable")[:k]
    cents = [
        (j, np.round(V[seed_order[j]].astype(np.float64), round_to))
        for j in range(k)
    ]
    for _ in range(iterations):
        a = assign(cents)
        members = {}
        for idx, i in enumerate(ids):
            members.setdefault(a[i], []).append(V[idx].astype(np.float64))
        cents = [
            (cell, np.round(np.mean(members[cell], axis=0), round_to))
            for cell in sorted(members)
        ]
    return assign(cents)


def test_kmeans_assign_matches_numpy(spark, vectors):
    from clip_retrieval_spark.operators.kmeans import kmeans_assign

    rows = vectors.orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    got = {
        r["vec_id"]: r["cell_id"]
        for r in kmeans_assign(vectors, k=5).collect()
    }
    want = _np_kmeans_assign(V, ids, k=5, iterations=2)
    assert got == want


def test_kmeans_trains_usable_ivf_codebook(spark, vectors):
    """End-to-end: kmeans_fit centroids feed ivf_topk and full-probe
    search equals brute force (the trained-index contract)."""
    from clip_retrieval_spark.operators.kmeans import kmeans_fit
    from clip_retrieval_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    cents = kmeans_fit(vectors, k=4, iterations=2)
    n_cells = cents.count()
    assert 1 <= n_cells <= 4
    q = vectors.filter("vec_id < 3").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    c = vectors.selectExpr("vec_id as cid", "embedding as c_emb")
    ivf = ivf_topk(q, c, cents, k=5, nprobe=n_cells)
    bf = brute_force_topk(q, c, k=5)
    assert {(r["qid"], r["cid"]) for r in ivf.collect()} == {
        (r["qid"], r["cid"]) for r in bf.collect()
    }


# --- triangle counting ------------------------------------------------------


def test_triangle_count_known_graph(spark):
    from clip_retrieval_spark.operators.graph import triangle_count

    # K4 on a,b,c,d (4 triangles, each node in 3) plus a pendant edge
    # and a duplicate/reversed edge to exercise normalization
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("a", "c"), ("a", "d"),
            ("b", "c"), ("b", "d"), ("c", "d"),
            ("d", "e"),             # pendant: no triangle
            ("b", "a"), ("a", "b"),  # dup + reverse
        ],
        "src string, dst string",
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(edges).collect()
    }
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_matches_bruteforce_random(spark):
    from clip_retrieval_spark.operators.graph import triangle_count

    rng = np.random.default_rng(11)
    n = 40
    pairs = sorted(
        {
            (int(a), int(b)) if a < b else (int(b), int(a))
            for a, b in rng.integers(0, n, size=(220, 2))
            if a != b
        }
    )
    adj = {i: set() for i in range(n)}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for i in sorted(adj):
        for j in adj[i]:
            if j <= i:
                continue
            for k2 in adj[i] & adj[j]:
                if k2 <= j:
                    continue
                for v in (i, j, k2):
                    want[v] = want.get(v, 0) + 1
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )
    got = {
        int(r["node"]): r["n_triangles"]
        for r in triangle_count(edges).collect()
    }
    assert got == want


# --- product quantization ---------------------------------------------------


def test_pq_encode_shape_and_determinism(spark, vectors):
    from clip_retrieval_spark.operators.pq import pq_encode, pq_train

    cb = pq_train(vectors, dim=64, m=8, k=4, iterations=1)
    # codebook: 8 subspaces, <=4 cells each, 8-dim centroids
    rows = cb.collect()
    assert {r["sub"] for r in rows} == set(range(8))
    assert all(len(r["centroid"]) == 8 for r in rows)
    codes = pq_encode(
        vectors.selectExpr("vec_id as cid", "embedding as c_emb"),
        cb, dim=64,
    )
    got = {r["cid"]: r["codes"] for r in codes.collect()}
    assert len(got) == vectors.count()
    assert all(len(c) == 8 for c in got.values())
    # positional codes are bounded by that subspace's cell count
    n_cells = {}
    for r in rows:
        n_cells[r["sub"]] = n_cells.get(r["sub"], 0) + 1
    for c in got.values():
        for s, code in enumerate(c):
            assert 0 <= code < n_cells[s]
    # determinism: second run identical
    got2 = {r["cid"]: r["codes"] for r in codes.collect()}
    assert got == got2


def test_pq_adc_recall_vs_bruteforce(spark, vectors):
    """PQ is served shortlist-then-rerank (operators.pq.pq_rerank_topk
    — the faiss pattern): ADC over 8x16 trained codebooks shortlists
    100 of 500, exact re-rank returns top-5. On these near-random
    64-dim vectors (the hardest case for quantization) the measured
    shortlist recall is ~0.9; assert a margin below it."""
    from clip_retrieval_spark.operators.pq import (
        pq_encode,
        pq_rerank_topk,
        pq_train,
    )
    from clip_retrieval_spark.operators.similarity import brute_force_topk

    cb = pq_train(vectors, dim=64, m=8, k=16, iterations=2)
    c = vectors.selectExpr("vec_id as cid", "embedding as c_emb")
    codes = pq_encode(c, cb, dim=64)
    q = vectors.filter("vec_id < 10").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    rr = pq_rerank_topk(
        q, codes, c, cb, dim=64, k=5, shortlist=100, exclude_self=True
    )
    bf = brute_force_topk(q, c, k=6).filter("qid != cid").filter(
        "rank <= 6"
    )
    rr_set = {(r["qid"], r["cid"]) for r in rr.collect()}
    bf_set = {(r["qid"], r["cid"]) for r in bf.collect()}
    recall = len(rr_set & bf_set) / len(bf_set)
    assert recall >= 0.7, recall


def test_pq_exact_when_codebook_holds_corpus(spark):
    """Degenerate sanity: if every corpus vector IS a centroid in every
    subspace, quantization is lossless and ADC == exact dot ranking."""
    import numpy as np
    from clip_retrieval_spark.operators.pq import pq_adc_topk, pq_encode
    from clip_retrieval_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(3)
    V = rng.normal(size=(12, 8))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    cb = (
        emb.selectExpr(
            "cast(vec_id as int) as cell_id",
            "explode(sequence(0, 1)) as sub",
            "embedding",
        )
        .selectExpr(
            "sub", "cell_id",
            "transform(slice(embedding, sub*4+1, 4),"
            " x -> cast(x as double)) as centroid",
        )
    )
    codes = pq_encode(
        emb.selectExpr("vec_id as cid", "embedding as c_emb"), cb, dim=8
    )
    q = emb.filter("vec_id < 3").selectExpr(
        "vec_id as qid", "embedding as q_emb"
    )
    adc = pq_adc_topk(q, codes, cb, dim=8, k=3, exclude_self=True)
    c = emb.selectExpr("vec_id as cid", "embedding as c_emb")
    # rank 1 of brute force is the self match; non-self top-3 = ranks 2-4
    bf = brute_force_topk(q, c, k=4).filter("qid != cid")
    assert {(r["qid"], r["cid"]) for r in adc.collect()} == {
        (r["qid"], r["cid"]) for r in bf.collect()
    }


# --- label propagation ------------------------------------------------------


def test_label_propagation_min_hop_semantics(spark):
    """After R rounds each node carries the min id within R hops; at
    R >= diameter the result equals connected components."""
    from clip_retrieval_spark.operators.graph import label_propagation_min

    # path 1-2-3-4-5-6 plus separate triangle 10-11-12
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12),
         (10, 12)],
        "src long, dst long",
    )
    r1 = {
        r["node"]: r["community"]
        for r in label_propagation_min(edges, rounds=1).collect()
    }
    # 1 hop: node 4 sees min(3,4,5)=3; node 6 sees 5; triangle all -> 10
    assert r1 == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5,
                  10: 10, 11: 10, 12: 10}
    r5 = {
        r["node"]: r["community"]
        for r in label_propagation_min(edges, rounds=5).collect()
    }
    assert r5 == {n: 1 for n in range(1, 7)} | {10: 10, 11: 10, 12: 10}


def test_semantic_dedup_matches_numpy(spark, vectors):
    """Operator vs an independent numpy replay of the SemDeDup rule:
    nearest-seed assignment, then drop on rounded cosine >= tau to any
    lower-id cell-mate. Also: partitioning-invariant."""
    from clip_retrieval_spark.operators.dedup import semantic_dedup

    rows = vectors.orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    tau, k = 0.30, 6
    seeds = V[np.argsort(ids)[:k]]  # ids are 0..n-1 sorted already
    # nearest seed, squared-L2 rounded like assign_cells, tie -> low cell
    d = np.round(
        (seeds * seeds).sum(1)[None, :] - 2.0 * (V @ seeds.T), 6
    )
    cell = d.argmin(axis=1)
    Xn = V / np.linalg.norm(V, axis=1, keepdims=True)
    keep_want = {}
    for i in range(len(ids)):
        mates = np.where(
            (cell == cell[i]) & (ids < ids[i])
        )[0]
        cos = np.round(Xn[mates] @ Xn[i], 6) if len(mates) else np.array([])
        keep_want[int(ids[i])] = not bool((cos >= tau).any())

    cents = spark.createDataFrame(
        [(int(c), [float(x) for x in seeds[c]]) for c in range(k)],
        "cell_id int, centroid array<float>",
    )
    got_df = semantic_dedup(vectors, cents, threshold=tau, block_rows=64)
    got = {r["vec_id"]: r["keep"] for r in got_df.collect()}
    assert got == keep_want
    assert sum(1 for v in got.values() if not v) > 0  # rule actually fires

    got16 = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            vectors.repartition(16), cents, threshold=tau, block_rows=7
        ).collect()
    }
    assert got16 == got


def test_kcore_prune_known_graph(spark):
    """Peeling semantics on a known graph: a tail node and then the
    whole path vanish round by round; the triangle is the 2-core."""
    from clip_retrieval_spark.operators.graph import kcore_prune

    # path 1-2-3-4-5 (melts completely), triangle 10-11-12 with a
    # pendant 13 hanging off 10 (pendant peels, triangle survives)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12), (10, 13)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["deg"]
        for r in kcore_prune(edges, k=2, rounds=3).collect()
    }
    assert got == {10: 2, 11: 2, 12: 2}

    # one round only: path loses just its endpoints (superset of core)
    got1 = {
        r["node"]: r["deg"]
        for r in kcore_prune(edges, k=2, rounds=1).collect()
    }
    assert got1 == {2: 1, 3: 2, 4: 1, 10: 2, 11: 2, 12: 2}


def test_incremental_dedup_ledger_semantics(spark):
    from clip_retrieval_spark.operators.dedup import incremental_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],  # 3 dups 1 in-batch
        "id long, text string",
    )
    kept1, delta1 = incremental_dedup(b1, None, ["text"], "id")
    assert {r["id"] for r in kept1.collect()} == {1, 2}  # min-id keeper
    ledger = delta1
    assert ledger.count() == 2

    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "alpha")],
        "id long, text string",
    )
    kept2, delta2 = incremental_dedup(b2, ledger, ["text"], "id")
    # beta/alpha already in the ledger; gamma keeps its min id once
    assert {r["id"] for r in kept2.collect()} == {11}
    assert {r["keeper"] for r in delta2.collect()} == {11}
    # columns of kept rows are the input columns, no leaked hash col
    assert kept2.columns == ["id", "text"]


def _py_morton(vals, bits):
    key = 0
    n = len(vals)
    for b in range(bits):
        for i, v in enumerate(vals):
            key |= ((v >> b) & 1) << (b * n + i)
    return key


def test_zorder_key_matches_reference_interleave(spark):
    from clip_retrieval_spark.io import zorder_key

    import itertools
    rows = [(x, y) for x, y in itertools.product(range(16), repeat=2)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_key(["x", "y"], bits=4))
        .collect()
    }
    for (x, y), z in got.items():
        assert z == _py_morton([x, y], 4), (x, y, z)


def test_zorder_clustered_write_gives_compact_files(spark, tmp_path):
    """Every z-clustered output file must cover a compact rectangle of
    (x, y) — the bounding-box area stays a small fraction of the grid,
    which is exactly what lets min/max footer stats prune 2-D
    predicates."""
    from pyspark.sql import functions as F

    from clip_retrieval_spark.io import clustered_write_zorder

    import itertools
    rows = [(x, y) for x, y in itertools.product(range(32), repeat=2)]
    df = spark.createDataFrame(rows, "x int, y int").repartition(8)
    out = str(tmp_path / "z")
    clustered_write_zorder(df, out, ["x", "y"], bits=5, n_files=8)
    back = spark.read.parquet(out).withColumn(
        "f", F.input_file_name()
    )
    spans = (
        back.groupBy("f")
        .agg(
            (F.max("x") - F.min("x") + 1).alias("sx"),
            (F.max("y") - F.min("y") + 1).alias("sy"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert sum(r["n"] for r in spans) == 1024
    assert len(spans) > 1
    for r in spans:
        # a random shuffle would give ~full-grid 32x32 boxes per file;
        # z-ranges must stay at most half the grid area
        assert r["sx"] * r["sy"] <= 512, (r["sx"], r["sy"], r["n"])


def test_semantic_dedup_adversarial_vectors(spark):
    """Zero vectors, exact duplicates, and a singleton cell: zero-norm
    rows must not crash or NaN (guarded divide), exact duplicates drop
    to the min id, singletons always keep."""
    from clip_retrieval_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # seed A
        (1, [0.0, 1.0, 0.0, 0.0]),   # seed B
        (2, [1.0, 0.0, 0.0, 0.0]),   # dup of 0 -> dropped
        (3, [2.0, 0.0, 0.0, 0.0]),   # same direction -> dropped
        (4, [0.0, 0.0, 0.0, 0.0]),   # zero vector
        (5, [0.0, 0.0, 0.0, 0.0]),   # second zero vector
        (6, [-1.0, 0.2, 0.0, 0.0]),  # negative direction -> kept
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id int, centroid array<float>",
    )
    got = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(emb, cents, threshold=0.9).collect()
    }
    assert got[0] and not got[2] and not got[3]
    assert got[1] and got[6]
    # zero vectors: normalized as-is (guard), cos(0,0)=0 < tau -> kept
    assert got[4] and got[5]
    assert len(got) == 7  # no row silently dropped


def _py_kcore(edges, k, rounds):
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    for _ in range(rounds):
        deg = {}
        for a, _b in und:
            deg[a] = deg.get(a, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        und = {(a, b) for a, b in und if a in alive and b in alive}
    deg = {}
    for a, _b in und:
        deg[a] = deg.get(a, 0) + 1
    return deg


def test_kcore_matches_python_reference_random(spark):
    import random

    rng = random.Random(11)
    edges = list({
        tuple(sorted((rng.randrange(60), rng.randrange(60))))
        for _ in range(150)
    })
    edges = [(a, b) for a, b in edges if a != b]
    from clip_retrieval_spark.operators.graph import kcore_prune

    df = spark.createDataFrame(edges, "src long, dst long")
    for k, rounds in ((2, 1), (3, 2), (4, 3)):
        got = {
            r["node"]: r["deg"]
            for r in kcore_prune(df, k=k, rounds=rounds).collect()
        }
        assert got == _py_kcore(edges, k, rounds), (k, rounds)


def test_semantic_dedup_salted_hot_cell_bound(spark):
    """max_cell splits a pathological hot cell into salted sub-cells:
    per-task row counts stay bounded, the result remains deterministic
    under repartitioning, and within-salt duplicates still drop."""
    import numpy as np

    from clip_retrieval_spark.operators.dedup import semantic_dedup

    n = 5000  # one giant cell: every vector near the same direction
    rng = np.random.default_rng(5)
    base = np.array([1.0, 0.0, 0.0, 0.0])
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 1e-3, 4)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id int, centroid array<float>",
    )
    got = semantic_dedup(
        emb, cents, threshold=0.999, max_cell=256
    ).collect()
    assert len(got) == n  # every row classified
    kept = sum(1 for r in got if r["keep"])
    # ~20 salted sub-cells, one keeper each (all vectors are near-dups)
    assert kept <= 64, kept
    assert kept >= 10  # but one per sub-cell survives — salted recall

    got16 = semantic_dedup(
        emb.repartition(16), cents, threshold=0.999, max_cell=256
    ).collect()
    assert {(r["vec_id"], r["keep"]) for r in got16} == {
        (r["vec_id"], r["keep"]) for r in got
    }


def test_bfs_distances_hand_graph(spark):
    """Frontier-only BFS vs hand-computed hop distances on a path
    plus a disconnected triangle; seeds in both components."""
    from clip_retrieval_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12),
         (10, 12)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, rounds=3).collect()
    }
    # 5 and 6 are 4 and 5 hops from seed 1 -> absent at rounds=3
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 10: 0, 11: 1, 12: 1}


def test_bfs_distances_matches_python_bfs_random(spark):
    """Property: on a random graph, frontier-only expansion equals a
    plain Python multi-source BFS (the full-expansion fixpoint)."""
    import random
    from collections import deque

    from clip_retrieval_spark.operators.graph import bfs_distances

    rng = random.Random(7)
    n, m = 40, 90
    edge_list = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
    ]
    seeds = [0, 1]
    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist, dq = {s: 0 for s in seeds}, deque(seeds)
    while dq:
        u = dq.popleft()
        if dist[u] >= 3:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds_df, rounds=3).collect()
    }
    assert got == dist


def test_ntriples_serialization_and_iri_escaping(spark):
    """to_ntriples emits W3C-shaped lines; IRIREF-forbidden characters
    in surfaces are percent-encoded, % first so escapes don't
    double-encode."""
    from clip_retrieval_spark.operators.materialize import to_ntriples

    edges = spark.createDataFrame(
        [
            ("Acme Corp", "acquired", "Beta<Inc>", "u1"),
            ('100% "raw"', "owns", "a|b{c}^`\\", "u2"),
        ],
        "subj_surface string, pred string, obj_surface string, "
        "url string",
    )
    lines = {
        r["url"]: r["ntriple"] for r in to_ntriples(edges).collect()
    }
    assert lines["u1"] == (
        "<http://kg.example/e/Acme%20Corp> "
        "<http://kg.example/p/acquired> "
        "<http://kg.example/e/Beta%3CInc%3E> ."
    )
    assert lines["u2"] == (
        "<http://kg.example/e/100%25%20%22raw%22> "
        "<http://kg.example/p/owns> "
        "<http://kg.example/e/a%7Cb%7Bc%7D%5E%60%5C> ."
    )


def test_merge_weighted_edges_algebra(spark):
    """merge(agg(A), agg(B)) == agg(A ∪ B): disjoint keys pass through,
    shared keys sum, an empty delta is the identity."""
    from clip_retrieval_spark.operators.materialize import (
        merge_weighted_edges,
    )

    base = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)], "subj string, obj string, weight long"
    )
    delta = spark.createDataFrame(
        [("a", "b", 2), ("x", "y", 5)], "subj string, obj string, weight long"
    )
    got = {
        (r.subj, r.obj): r.weight
        for r in merge_weighted_edges(base, delta).collect()
    }
    assert got == {("a", "b"): 5, ("a", "c"): 1, ("x", "y"): 5}

    empty = spark.createDataFrame([], "subj string, obj string, weight long")
    ident = {
        (r.subj, r.obj): r.weight
        for r in merge_weighted_edges(base, empty).collect()
    }
    assert ident == {("a", "b"): 3, ("a", "c"): 1}
    # merge is commutative
    swapped = {
        (r.subj, r.obj): r.weight
        for r in merge_weighted_edges(delta, base).collect()
    }
    assert swapped == got


def test_hist_quantile_error_bounded_by_bin_width(spark):
    """The histogram sketch's contract: each estimated percentile sits
    within one bin width of the exact (interpolated) percentile — the
    bound that justifies swapping it for exact ntile at 10^12 rows."""
    from clip_retrieval_spark.entry_queries import (
        _HIST_BIN_W,
        hist_quantile_sketch,
    )
    from pyspark.sql import functions as F

    sfd = "/root/testdata/sf0.01"
    est = {
        r.event_type: (r.p50_est, r.p90_est, r.p99_est)
        for r in hist_quantile_sketch(spark, sfd).collect()
    }
    exact = {
        r.event_type: (r.p50, r.p90, r.p99)
        for r in spark.read.parquet(f"{sfd}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(est) == set(exact)
    for et in est:
        for e, x in zip(est[et], exact[et]):
            assert abs(e - x) <= _HIST_BIN_W, (et, e, x)


def test_negative_samples_disjoint_and_partition_invariant(spark):
    """Negative-sampling contract: no sampled negative is a true edge
    or a self-loop, every positive subject contributes, and the exact
    sample set is invariant to shuffle partitioning (hash-derived, not
    RNG-derived)."""
    from clip_retrieval_spark.entry_queries import (
        kg_nodes_edges,
        link_negative_samples,
    )

    sfd = "/root/testdata/sf0.001"
    pos = {
        (r.subj_surface, r.obj_surface)
        for r in kg_nodes_edges(spark, sfd)
        .select("subj_surface", "obj_surface")
        .distinct()
        .collect()
    }
    neg = [tuple(r) for r in link_negative_samples(spark, sfd).collect()]
    assert neg, "sampling produced no negatives"
    for subj, _, neg_obj in neg:
        assert (subj, neg_obj) not in pos
        assert neg_obj != subj

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        neg2 = [
            tuple(r) for r in link_negative_samples(spark, sfd).collect()
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(neg) == sorted(neg2)


def test_snm_pairs_are_block_local_and_duplicate_free(spark):
    """Sorted-neighborhood contract: every candidate pair shares the
    2-char block prefix, appears once, and the pair count equals the
    closed form sum(block: w*size - w*(w+1)/2 clipped) for window w —
    i.e. lead() adjacency produced exactly the promised candidates."""
    import re as _re

    from clip_retrieval_spark.entry_queries import _SNM_WINDOW, er_snm_pairs

    sfd = "/root/testdata/sf0.001"
    docs = {
        r.doc_id: _re.sub(r"[^a-z0-9]", "", r.text[:24].lower())
        for r in spark.read.parquet(f"{sfd}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    keys = {d: k for d, k in docs.items() if len(k) >= 2}
    pairs = [tuple(r) for r in er_snm_pairs(spark, sfd).collect()]
    assert len(pairs) == len(set(pairs))
    for a, b, gap, lev in pairs:
        assert keys[a][:2] == keys[b][:2], (a, b)
        assert 1 <= gap <= _SNM_WINDOW

    from collections import Counter

    sizes = Counter(k[:2] for k in keys.values())
    expected = sum(
        sum(max(0, n - i) for i in range(1, _SNM_WINDOW + 1))
        for n in sizes.values()
    )
    assert len(pairs) == expected


def test_overlap_join_matches_bruteforce(spark):
    """Bucketized overlap join == quadratic reference on random
    intervals, for bucket widths smaller, comparable to, and larger
    than the interval lengths (correctness must not depend on w)."""
    import random

    from clip_retrieval_spark.operators.intervals import overlap_join

    rng = random.Random(42)
    ivs = []
    for i in range(120):
        s = rng.randrange(0, 5000)
        ivs.append((i, s, s + rng.randrange(0, 400)))
    # a few degenerate rows: points and an invalid (dropped) interval
    ivs += [(900, 100, 100), (901, 4999, 4999), (902, 50, 40)]
    df = spark.createDataFrame(ivs, "iid long, s long, e long")

    valid = [(i, s, e) for i, s, e in ivs if s <= e]
    want = {
        (a[0], b[0], min(a[2], b[2]) - max(a[1], b[1]))
        for a in valid
        for b in valid
        if a[1] <= b[2] and b[1] <= a[2]
    }
    for width in (50, 400, 10_000):
        got = {
            (r.l_iid, r.r_iid, r.overlap_s)
            for r in overlap_join(df, df, width=width).collect()
        }
        assert got == want, width

    import pytest as _pytest

    with _pytest.raises(ValueError):
        overlap_join(df, df, width=0)


def test_kth_smallest_matches_sorted_reference(spark):
    """Histogram-refinement selection == sorted()[k-1] across rank
    positions, duplicate-heavy data, collapsed ranges, and different
    rounds/bins configs (exactness must not depend on the knobs)."""
    import random

    import pytest as _pytest

    from clip_retrieval_spark.operators.selection import kth_smallest

    rng = random.Random(7)
    datasets = [
        [rng.uniform(-100, 100) for _ in range(500)],
        [float(rng.randrange(5)) for _ in range(300)],  # heavy dups
        [3.25] * 50,                                    # constant
        [rng.uniform(0, 1e-9) for _ in range(100)],     # tiny range
    ]
    for vals in datasets:
        df = spark.createDataFrame([(v,) for v in vals], "value double")
        ref = sorted(vals)
        ks = {1, len(vals), (len(vals) + 1) // 2, max(1, len(vals) // 10)}
        for k in ks:
            for rounds, bins in ((3, 128), (1, 8), (5, 4)):
                got = kth_smallest(df, "value", k, rounds=rounds, bins=bins)
                assert got == ref[k - 1], (k, rounds, bins)

    df = spark.createDataFrame([(1.0,), (None,), (2.0,)], "value double")
    assert kth_smallest(df, "value", 2) == 2.0  # nulls ignored
    with _pytest.raises(ValueError):
        kth_smallest(df, "value", 3)
    with _pytest.raises(ValueError):
        kth_smallest(df, "value", 0)


def test_kth_smallest_degenerate_never_global_windows(spark, monkeypatch):
    """Constant / duplicate-saturated columns must be answered from
    aggregates alone — the partition-less Window (single-task global
    sort at scale) must not be constructed on these shapes."""
    import pyspark.sql.window as _w

    from clip_retrieval_spark.operators.selection import kth_smallest

    def _boom(*a, **kw):  # any global window build fails the test
        raise AssertionError("global Window built on degenerate input")

    monkeypatch.setattr(_w.Window, "orderBy", staticmethod(_boom))
    const = spark.createDataFrame([(7.5,)] * 200, "value double")
    assert kth_smallest(const, "value", 100) == 7.5
    # two-value column: the range never collapses, but every residue is
    # all-equal, so min/max aggregates settle the rank without a window
    two = spark.createDataFrame(
        [(1.0,)] * 150 + [(9.0,)] * 150, "value double"
    )
    assert kth_smallest(two, "value", 1) == 1.0
    assert kth_smallest(two, "value", 150) == 1.0
    assert kth_smallest(two, "value", 151) == 9.0
    assert kth_smallest(two, "value", 300) == 9.0
