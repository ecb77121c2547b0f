"""jobs/update_kg.py: dump-over-dump maintenance must equal a full
rebuild (the merge invariant THROUGH the job + snapshot layer), keep
history time-travelable, and roll back in metadata only."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobs.update_kg import EDGE_TABLE, dump_edges, main  # noqa: E402


def _edges(store, as_of=None):
    return {
        (r.subj, r.obj): r.weight
        for r in store.read(EDGE_TABLE, as_of=as_of).collect()
    }


def test_two_dumps_equal_full_rebuild_and_rollback(spark, tmp_path):
    from clip_retrieval_spark.io import SnapshotStore

    root = str(tmp_path / "hist")
    r0 = main(["--store", root, "--n-pages", "400", "--dump-id", "0"])
    r1 = main(["--store", root, "--n-pages", "400", "--dump-id", "1"])
    assert (r0["snapshot_id"], r1["snapshot_id"]) == (1, 2)

    store = SnapshotStore(spark, root)
    got = _edges(store)

    # full rebuild: aggregate both dumps' triples at once
    full = (
        dump_edges(spark, 400, 0, 7)
        .unionByName(dump_edges(spark, 400, 1, 7))
        .groupBy("subj", "obj")
        .agg({"weight": "sum"})
        .withColumnRenamed("sum(weight)", "weight")
    )
    want = {(r.subj, r.obj): r.weight for r in full.collect()}
    assert got == want
    assert r1["n_edges"] == len(want)
    assert r1["total_weight"] == sum(want.values())

    # dump 1 regretted: rollback to snapshot 1 restores dump-0 state
    snap1 = _edges(store, as_of=1)
    rb = main(["--store", root, "--rollback", "1"])
    assert rb["snapshot_id"] == 3
    assert _edges(store) == snap1
    # the rolled-past merge is still time-travelable (no data moved)
    assert _edges(store, as_of=2) == want


def test_dump_edges_match_spec_oracle(spark):
    """Each dump's edge weights are the (subj, obj) counts of the
    independent spec oracle over the same fixture pages."""
    from clip_retrieval_spark.fixtures import gen_pages_local
    from tests.oracle import oracle_extract_text, oracle_extract_triples

    for dump_id in (0, 1):
        want = Counter(
            (s, o)
            for (_url, _ts, html, _text, _lang)
            in gen_pages_local(400, 7 + dump_id)
            for (_sid, s, _p, o)
            in oracle_extract_triples(oracle_extract_text(html))
        )
        got = {
            (r.subj, r.obj): r.weight
            for r in dump_edges(spark, 400, dump_id, 7).collect()
        }
        assert want and got == dict(want), dump_id


def test_dump_sequence_is_deterministic(spark, tmp_path):
    from clip_retrieval_spark.io import SnapshotStore

    roots = [str(tmp_path / f"h{i}") for i in (0, 1)]
    for root in roots:
        main(["--store", root, "--n-pages", "300", "--dump-id", "0"])
        main(["--store", root, "--n-pages", "300", "--dump-id", "1"])
    a = _edges(SnapshotStore(spark, roots[0]))
    b = _edges(SnapshotStore(spark, roots[1]))
    assert a == b and a


def test_keep_last_zero_is_rejected(tmp_path, capsys):
    with pytest.raises(SystemExit) as exc:
        main(["--store", str(tmp_path), "--keep-last", "0"])
    assert exc.value.code == 2
    assert "--keep-last must be >= 1" in capsys.readouterr().err
