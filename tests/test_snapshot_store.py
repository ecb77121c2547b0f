"""SnapshotStore contract: snapshot-isolated reads, time travel,
metadata-only rollback, and retention GC — the Iceberg read-side
semantics (the write-side resume contract lives in TableStore and is
covered by test_pipeline_resume / test_kill_resume)."""

from __future__ import annotations

import os

import pytest

from clip_retrieval_spark.io import SnapshotStore


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def _vals(df):
    return sorted(r.v for r in df.collect())


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path))


def test_append_read_and_time_travel(spark, store):
    s1 = store.append(_df(spark, 0, 10), "t")
    s2 = store.append(_df(spark, 10, 15), "t")
    s3 = store.append(_df(spark, 15, 18), "t")
    assert (s1, s2, s3) == (1, 2, 3)
    assert store.current_snapshot_id("t") == 3
    assert _vals(store.read("t")) == list(range(18))
    assert _vals(store.read("t", as_of=1)) == list(range(10))
    assert _vals(store.read("t", as_of=2)) == list(range(15))
    # a time-travel read is stable: later commits don't change it
    frozen = store.read("t", as_of=1)
    store.append(_df(spark, 100, 105), "t")
    assert _vals(frozen) == list(range(10))
    assert _vals(store.read("t", as_of=1)) == list(range(10))


def test_overwrite_and_metadata_only_rollback(spark, store):
    store.append(_df(spark, 0, 5), "t")
    store.overwrite(_df(spark, 50, 53), "t")
    assert _vals(store.read("t")) == [50, 51, 52]
    # rollback publishes a NEW snapshot pointing at the old dir set
    rb = store.rollback("t", 1)
    assert rb == 3
    assert _vals(store.read("t")) == [0, 1, 2, 3, 4]
    # no data moved: the overwritten snapshot is still time-travelable
    assert _vals(store.read("t", as_of=2)) == [50, 51, 52]
    ops = [m["operation"] for m in store.snapshots("t")]
    assert ops == ["append", "overwrite", "rollback"]


def test_crashed_write_is_invisible_until_gc(spark, store):
    store.append(_df(spark, 0, 10), "t")
    # simulate a crash between data write and manifest publish: a data
    # dir exists with NO manifest referencing it
    orphan = os.path.join(store.path("t"), "snap-00000099")
    _df(spark, 500, 600).write.parquet(orphan)
    assert _vals(store.read("t")) == list(range(10))  # isolation
    dropped = store.expire_snapshots("t", keep_last=5)
    assert dropped == [orphan]
    assert not os.path.isdir(orphan)
    assert _vals(store.read("t")) == list(range(10))


def test_expire_keeps_reachable_dirs_only(spark, store):
    store.append(_df(spark, 0, 3), "t")      # snap 1 -> dir A
    store.append(_df(spark, 3, 6), "t")      # snap 2 -> dirs A,B
    store.overwrite(_df(spark, 9, 12), "t")  # snap 3 -> dir C
    dropped = store.expire_snapshots("t", keep_last=1)
    # dirs A and B are unreachable from snapshot 3 and must be GC'd
    assert len(dropped) == 2
    assert _vals(store.read("t")) == [9, 10, 11]
    with pytest.raises(ValueError):
        store.read("t", as_of=1)  # expired
    # chain continues cleanly after expiry
    sid = store.append(_df(spark, 12, 14), "t")
    assert sid == 4
    assert _vals(store.read("t")) == [9, 10, 11, 12, 13]


def test_read_errors_are_explicit(spark, store):
    with pytest.raises(ValueError, match="no snapshots"):
        store.read("missing")
    store.append(_df(spark, 0, 2), "t")
    with pytest.raises(ValueError, match="no snapshot 7"):
        store.read("t", as_of=7)


def test_compact_preserves_rows_and_bounds_files(spark, store):
    import glob

    for lo in range(0, 50, 10):  # 5 small appends -> many small files
        store.append(_df(spark, lo, lo + 10), "t")
    sid = store.compact("t", n_files=2)
    assert store.snapshots("t")[-1]["operation"] == "compact"
    assert _vals(store.read("t")) == list(range(50))
    files = glob.glob(
        os.path.join(store.path("t"), f"snap-{sid:08d}", "*.parquet")
    )
    assert 1 <= len(files) <= 2
    # pre-compaction snapshot still time-travelable
    assert _vals(store.read("t", as_of=3)) == list(range(30))
    # expiry then GCs the 5 small dirs
    dropped = store.expire_snapshots("t", keep_last=1)
    assert len(dropped) == 5
    assert _vals(store.read("t")) == list(range(50))


def test_expire_deletes_leftover_manifest_temp_files(spark, store):
    """A crash inside ``_publish`` between writing the manifest's temp
    file and renaming it leaves ``manifest-*.json.tmp`` behind; it is
    never read as a snapshot, and retention GC deletes it."""
    store.append(_df(spark, 0, 4), "t")
    tmp = os.path.join(store._meta_dir("t"), "manifest-00000002.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write('{"snapshot_id": 2')  # torn write
    assert store.current_snapshot_id("t") == 1
    store.expire_snapshots("t", keep_last=1)
    assert not os.path.exists(tmp)
    assert os.listdir(store._meta_dir("t")) == ["manifest-00000001.json"]
    assert _vals(store.read("t")) == [0, 1, 2, 3]
