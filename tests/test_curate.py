"""Composed curation DAG (jobs/curate.py): quality -> exact dedup ->
near-dedup -> semantic dedup -> deterministic sample."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobs.curate import curate  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_curate_monotone_and_deterministic(spark, tmp_path):
    r1 = curate(
        spark, SF, str(tmp_path / "a"), quality_min=0.5,
        semantic_tau=0.3, sample_pct=50,
    )
    c = r1["counts"]
    order = ["input", "quality", "exact_dedup", "near_dedup",
             "semantic_dedup", "sampled"]
    vals = [c[k] for k in order]
    assert vals == sorted(vals, reverse=True)  # each stage only drops
    assert c["sampled"] > 0
    # stages actually fire on this corpus (not vacuous pass-throughs)
    assert c["quality"] < c["input"] or c["near_dedup"] < c["exact_dedup"]
    assert c["semantic_dedup"] < c["near_dedup"]

    # rerun -> identical survivor set (hash-deterministic end to end)
    r2 = curate(
        spark, SF, str(tmp_path / "b"), quality_min=0.5,
        semantic_tau=0.3, sample_pct=50,
    )
    assert r2["counts"] == r1["counts"]
    assert r2["id_checksum"] == r1["id_checksum"]

    out = spark.read.parquet(str(tmp_path / "a" / "curated"))
    assert out.count() == c["sampled"]
    assert set(out.columns) >= {"doc_id", "text", "source"}
