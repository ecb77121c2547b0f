"""Corpus-health report job (jobs/analyze_corpus.py): every section is
a deterministic aggregate, so reruns must produce identical reports
and identical parquet section tables."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobs.analyze_corpus import SECTIONS, analyze  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_analyze_corpus_deterministic(spark, tmp_path):
    r1 = analyze(spark, SF, str(tmp_path / "a"), entropy_floor=4.0)
    r2 = analyze(spark, SF, str(tmp_path / "b"), entropy_floor=4.0)
    assert r1 == r2

    # report shape: every section wrote rows and is counted
    assert set(r1["sections"]) == set(SECTIONS)
    assert all(n > 0 for n in r1["sections"].values())
    assert r1["most_asserted_triple"]["pred"] == "acquired"

    # section parquet tables are row-identical across reruns
    for name in SECTIONS:
        a = {tuple(r) for r in
             spark.read.parquet(str(tmp_path / "a" / name)).collect()}
        b = {tuple(r) for r in
             spark.read.parquet(str(tmp_path / "b" / name)).collect()}
        assert a == b, name


def test_analyze_corpus_empty_events_section(spark, tmp_path):
    """An empty ``events`` table empties the drift section: its headline
    is None (as an empty overlap matrix already gives) instead of an
    IndexError, and every other section still reports."""
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(SF):
        if name != "events.parquet":
            os.symlink(os.path.join(SF, name), sf / name)
    events = pq.read_table(os.path.join(SF, "events.parquet"))
    pq.write_table(events.slice(0, 0), sf / "events.parquet")

    r = analyze(spark, str(sf), str(tmp_path / "out"), entropy_floor=4.0)
    assert r["sections"]["events_trend_slopes"] == 0
    assert r["steepest_drift"] is None
    assert r["most_asserted_triple"]["pred"] == "acquired"
    assert r["cluster_agreement"] is not None
