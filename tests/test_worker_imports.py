"""The worker-side zip-directory hook (``session._reuse_zip_directories``):
on Python < 3.13 a Spark Python worker re-reads an archive on its import
path only when the archive changed, and the driver is never patched."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from unittest import mock

import pyarrow as pa
import pytest
from pyspark import TaskContext

from clip_retrieval_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimporter.invalidate_caches already re-reads lazily",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _reads(archive: str) -> int:
    """``_read_directory`` calls for ``archive`` in one
    ``importlib.invalidate_caches()``."""
    with mock.patch.object(
        zipimport, "_read_directory", wraps=zipimport._read_directory
    ) as rd:
        importlib.invalidate_caches()
    return sum(1 for c in rd.call_args_list if c.args[0] == archive)


def test_hook_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zhook_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zhook_a", "zhook_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zhook_a").X == 1

    # registers the stdlib method for restore before the hook replaces it
    zi = zipimport.zipimporter
    monkeypatch.setattr(zi, "invalidate_caches", zi.invalidate_caches)
    session._reuse_zip_directories()  # no task context: a driver
    assert zi.invalidate_caches.__module__ == "zipimport"
    assert _reads(archive) == 1

    monkeypatch.setattr(TaskContext, "_taskContext", object())
    session._reuse_zip_directories()
    hook = zi.invalidate_caches
    assert hook.__module__ == session.__name__
    session._reuse_zip_directories()  # idempotent
    assert zi.invalidate_caches is hook

    _reads(archive)
    assert _reads(archive) == 0
    assert _reads(archive) == 0

    _write_zip(archive, {"zhook_a": "X = 1\n", "zhook_b": "Y = 2\n"})
    assert _reads(archive) == 1
    assert importlib.import_module("zhook_b").Y == 2
    assert _reads(archive) == 0


def test_worker_tasks_skip_unchanged_archives(spark):
    import clip_retrieval_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

    from clip_retrieval_spark.functions.text import extract_text

    def probe(batches):
        import importlib
        import zipimport
        from unittest import mock

        for _ in batches:
            pass
        with mock.patch.object(
            zipimport, "_read_directory", wraps=zipimport._read_directory
        ) as rd:
            importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict(
            {
                "hook": [zipimport.zipimporter.invalidate_caches.__module__],
                "reads": [rd.call_count],
                "text": [extract_text("<p>ok</p>")],
            }
        )

    schema = "hook string, reads long, text string"
    for _ in range(2):
        rows = (
            spark.range(8, numPartitions=1).mapInArrow(probe, schema).collect()
        )
        assert [(r.hook, r.reads, r.text) for r in rows] == [
            ("clip_retrieval_spark.session", 0, "ok")
        ]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
