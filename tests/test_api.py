"""KGClient — the reference clip_client.py query surface restated for a
Spark entity table: mutual-exclusion validation (P8), text/vector/base64
inputs, dedup, aesthetic re-rank, batch queries in one job."""

from __future__ import annotations

import base64
import struct

import numpy as np
import pytest

from pyspark.sql import functions as F

from clip_retrieval_spark.api import KGClient, decode_embedding_b64
from clip_retrieval_spark.operators.embed import DIM, embed_batch


@pytest.fixture(scope="module")
def entities(spark):
    import pandas as pd

    surfaces = [
        "Acme Corp", "Acme Corporation", "Globex", "Initech",
        "Umbrella Labs", "Stark Industries", "Wayne Enterprises", "Hooli",
    ]
    vecs = embed_batch(pd.Series(surfaces))
    rows = [
        (i, s, [float(x) for x in v])
        for i, (s, v) in enumerate(zip(surfaces, vecs))
    ]
    return spark.createDataFrame(
        rows, "entity_id long, surface string, embedding array<float>"
    ).cache()


def test_query_validation(entities):
    c = KGClient(entities, k=3)
    with pytest.raises(ValueError, match="one of text"):
        c.query()
    with pytest.raises(ValueError, match="only one query input"):
        c.query(text="acme", embedding=[0.0] * DIM)
    with pytest.raises(ValueError, match="expected"):
        c.query(embedding=[0.0, 1.0])  # wrong dim
    with pytest.raises(ValueError, match="missing column"):
        KGClient(entities.drop("surface"))
    with pytest.raises(ValueError, match="aesthetic_weight"):
        KGClient(entities, aesthetic_weight=0.5)


def test_query_by_text_finds_exact_surface(entities):
    c = KGClient(entities, k=3)
    got = c.query(text="Globex")
    assert got[0]["surface"] == "Globex"
    assert got[0]["rank"] == 1
    assert abs(got[0]["similarity"] - 1.0) < 1e-6
    assert [r["rank"] for r in got] == [1, 2, 3]


def test_query_by_embedding_and_b64_agree(entities):
    import pandas as pd

    c = KGClient(entities, k=3)
    vec = [float(x) for x in embed_batch(pd.Series(["Initech"]))[0]]
    by_vec = c.query(embedding=vec)
    payload = base64.b64encode(
        np.asarray(vec, dtype="<f4").tobytes()
    ).decode()
    by_b64 = c.query(embedding_b64=payload)
    assert by_vec == by_b64
    assert by_vec[0]["surface"] == "Initech"


def test_decode_embedding_b64_rejects_bad_length():
    short = base64.b64encode(struct.pack("<2f", 1.0, 2.0)).decode()
    with pytest.raises(ValueError, match="dims"):
        decode_embedding_b64(short, dim=DIM)


def test_deduplicate_drops_identical_embeddings(spark, entities):
    # duplicate every entity under a new id: dedup must collapse each
    # embedding-identical pair to its min-id representative
    dups = entities.withColumn("entity_id", F.col("entity_id") + 100)
    both = entities.unionByName(dups)
    got = KGClient(both, k=8, deduplicate=True, min_score=-1.0).query(
        text="Acme Corp"
    )
    ids = [r["id"] for r in got]
    assert len(ids) == 8 and all(i < 100 for i in ids)
    got_nodedup = KGClient(
        both, k=16, deduplicate=False, min_score=-1.0
    ).query(text="Acme Corp")
    assert len(got_nodedup) == 16


def test_aesthetic_reranking_changes_order(entities):
    import pandas as pd

    plain = KGClient(entities, k=8).query(text="Acme")
    aest_vec = [float(x) for x in embed_batch(pd.Series(["Hooli"]))[0]]
    blended = KGClient(
        entities, k=8,
        aesthetic_embedding=aest_vec, aesthetic_weight=0.9,
    ).query(text="Acme")
    # blending hard toward the Hooli direction must promote Hooli
    rank_of = lambda res, s: next(r["rank"] for r in res if r["surface"] == s)
    assert rank_of(blended, "Hooli") < rank_of(plain, "Hooli")


def test_query_batch_one_job_matches_single(entities):
    c = KGClient(entities, k=2)
    batch = c.query_batch(["Globex", "Stark Industries"])
    assert set(batch) == {"Globex", "Stark Industries"}
    assert batch["Globex"] == c.query(text="Globex")
    assert batch["Stark Industries"] == c.query(text="Stark Industries")


def test_filter_df_threshold_semantics(entities):
    """clip_filter analog: every entity at-or-above the threshold, none
    below, self-match always qualifies (unit vectors, dot==cosine)."""
    c = KGClient(entities)
    out = c.filter_df(text="Acme Corp", threshold=0.5).collect()
    sims = {r["surface"]: r["similarity"] for r in out}
    assert "Acme Corp" in sims and sims["Acme Corp"] == pytest.approx(1.0)
    assert all(s >= 0.5 for s in sims.values())
    # complement check: nothing above the threshold was dropped
    full = c.filter_df(text="Acme Corp", threshold=-1.0).collect()
    expect = {r["surface"] for r in full if r["similarity"] >= 0.5}
    assert set(sims) == expect
    # validation is shared with query()
    with pytest.raises(ValueError, match="only one query input"):
        c.filter_df(text="x", embedding=[0.0] * DIM)


def test_filter_df_by_b64_matches_embedding(entities):
    """The base64 wire format is a third spelling of the same query
    vector: same rows as ``embedding=``; a payload of the wrong length
    is rejected before any Spark work."""
    import pandas as pd

    c = KGClient(entities)
    vec = [float(x) for x in embed_batch(pd.Series(["Globex"]))[0]]
    payload = base64.b64encode(
        np.asarray(vec, dtype="<f4").tobytes()
    ).decode()
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    by_vec = rows(c.filter_df(embedding=vec, threshold=0.2))
    assert by_vec and "Globex" in {r[1] for r in by_vec}
    assert rows(c.filter_df(embedding_b64=payload, threshold=0.2)) == by_vec
    short = base64.b64encode(struct.pack("<2f", 1.0, 2.0)).decode()
    with pytest.raises(ValueError, match="dims"):
        c.filter_df(embedding_b64=short)


def test_index_validation(entities):
    with pytest.raises(ValueError, match="index must be"):
        KGClient(entities, index="hnsw")


def test_ivf_full_probe_equals_flat(entities):
    """index='ivf' with nprobe == n_cells probes everything, so the
    result must equal the exact flat scan (same contract as
    test_ivf_full_probe_equals_bruteforce, through the client)."""
    flat = KGClient(entities, k=3, deduplicate=False)
    ivf = KGClient(
        entities, k=3, deduplicate=False,
        index="ivf", n_cells=4, nprobe=4,
    )
    for text in ("Acme Corp", "Hooli"):
        f = [(r["id"], r["rank"]) for r in flat.query(text=text)]
        i = [(r["id"], r["rank"]) for r in ivf.query(text=text)]
        assert f == i, (text, f, i)


def test_pq_full_shortlist_equals_flat(entities):
    """index='pq' re-ranks the shortlist with exact dots; a shortlist
    covering the whole corpus makes the client exact regardless of
    quantization error."""
    flat = KGClient(entities, k=3, deduplicate=False)
    pq = KGClient(
        entities, k=3, deduplicate=False,
        index="pq", pq_m=8, pq_k=4, shortlist=100,
    )
    for text in ("Globex", "Stark Industries"):
        f = [(r["id"], r["rank"]) for r in flat.query(text=text)]
        p = [(r["id"], r["rank"]) for r in pq.query(text=text)]
        assert f == p, (text, f, p)


def test_ann_index_respects_dedup_and_min_score(spark, entities):
    """The post-search options compose with ANN candidates: duplicate
    embeddings collapse, and min_score floors the result set."""
    dup = entities.union(
        entities.filter("entity_id = 2").selectExpr(
            "entity_id + 100 as entity_id", "surface", "embedding"
        )
    ).cache()
    c = KGClient(
        dup, k=8, deduplicate=True, index="pq",
        pq_m=8, pq_k=4, shortlist=100,
    )
    got = c.query(text="Globex")
    ids = [r["id"] for r in got]
    assert 2 in ids and 102 not in ids  # dup dropped, min id kept
    floor = KGClient(
        dup, k=8, min_score=0.999, index="ivf", n_cells=4, nprobe=4
    )
    hits = floor.query(text="Globex")
    assert all(r["similarity"] >= 0.999 for r in hits)


def test_build_index_job_and_from_index(spark, entities, tmp_path_factory):
    """jobs/build_index.py -> KGClient.from_index round trip: the
    prebuilt-PQ client with a corpus-covering shortlist must equal the
    flat scan (exact rerank), and the prebuilt-IVF client at full probe
    likewise — the clip-retrieval-index -> clip-back consumption path."""
    import json
    import os
    import subprocess
    import sys

    out = str(tmp_path_factory.mktemp("kgindex"))
    emb_path = os.path.join(out, "entities_emb.parquet")
    entities.selectExpr(
        "entity_id as vec_id", "embedding"
    ).write.mode("overwrite").parquet(emb_path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "build_index.py"),
            "--embeddings", emb_path, "--out", os.path.join(out, "idx"),
            "--dim", str(len(entities.first()["embedding"])),
            "--n-cells", "4", "--pq-m", "8", "--pq-k", "4",
            "--master", "local[4]",
        ],
        capture_output=True, text=True, check=True,
    )
    info = json.loads(proc.stdout.strip().splitlines()[-1])
    assert info["ivf_cells"] >= 1
    assert info["pq_codes"] == entities.count()

    flat = KGClient(entities, k=3, deduplicate=False)
    pq = KGClient.from_index(
        entities, os.path.join(out, "idx"), index="pq",
        k=3, deduplicate=False, shortlist=100,
    )
    ivf = KGClient.from_index(
        entities, os.path.join(out, "idx"), index="ivf",
        k=3, deduplicate=False, nprobe=4,
    )
    for text in ("Acme Corp", "Hooli"):
        f = [(r["id"], r["rank"]) for r in flat.query(text=text)]
        assert f == [(r["id"], r["rank"]) for r in pq.query(text=text)]
        assert f == [(r["id"], r["rank"]) for r in ivf.query(text=text)]
