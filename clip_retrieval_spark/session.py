"""SparkSession construction with the configs this engine assumes.

Defaults are chosen for the 100 TB design point and scaled down by
parameters for local testing:

* AQE on (skew-join splitting + partition coalescing) — replaces the
  reference's static uniform modulo task split
  (reference clip_inference/runner.py:6-14), which is its main weakness
  under head-domain / hub-entity skew.
* Arrow exchange on, with a bounded records-per-batch so fat binary html
  rows don't blow Python-worker memory (the reference's batch_size=256 vs
  write_batch_size=1e6 split, reference clip_inference/main.py:74,79).
* Session timezone pinned to UTC so timestamp semantics are deterministic
  across engines (oracle comparisons) and clusters.

The worker side of these Python settings lives here too: reused
workers (``spark.python.worker.reuse``) keep the zip directories of
their import path across tasks (``_reuse_zip_directories``, installed
by the package ``__init__`` inside a Spark Python worker).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

# Arrow batch size: html:binary rows are fat; 2k rows/batch keeps each
# Arrow batch ~10s of MB for ~10 KB pages while amortizing UDF overhead.
# It bounds mapInArrow input batches (stages 1+2) exactly as it bounds
# mapInPandas ones.
DEFAULT_ARROW_BATCH = 2048


def get_spark(
    master: str | None = None,
    app_name: str = "clip-retrieval-spark",
    shuffle_partitions: int | None = None,
    arrow_batch: int = DEFAULT_ARROW_BATCH,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` defers to spark-submit / env (``SPARK_GRAFT_CPUS`` is
    honored for local runs so the driver's bench harness controls it).

    ``spark.driver.memory`` is ``SPARK_DRIVER_MEM`` when set, else half of
    physical memory (``MemTotal``) within [1g, 24g]; the rest is left to
    the Python workers and the OS.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus and "SPARK_MASTER" not in os.environ:
            master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    # physical pages x page size = MemTotal; >> 21 is bytes -> MB, halved
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 21
    conf = {
        # local mode: driver JVM hosts all executor threads — size the
        # heap from the machine (default 1g thrashes GC)
        "spark.driver.memory": os.environ.get(
            "SPARK_DRIVER_MEM", f"{max(1024, min(24 * 1024, half_mb))}m"
        ),
        "spark.driver.maxResultSize": "4g",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Scan-parallelism floor (optimization guide §6.1): maxSplitBytes
        # = min(maxPartitionBytes, max(openCostInBytes, bytes/core)), so
        # the 4 MB default openCostInBytes floors every split at 4 MB and
        # a small-but-CPU-dense columnar input (a few MB of zstd'd html
        # expanding to 100x that in decode work) scans on 1-2 of N cores.
        # 128 KB keeps tiny inputs at ~defaultParallelism splits while
        # leaving big-file split sizing (bytes/core) untouched: for any
        # input >= cores * 4 MB the effective split size is identical to
        # the default. Production clusters with remote storage where the
        # per-open seek cost is real can restore it via env.
        "spark.sql.files.openCostInBytes": os.environ.get(
            "SPARK_GRAFT_OPEN_COST", str(128 * 1024)
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch),
        "spark.sql.session.timeZone": "UTC",
        # reuse Python workers so what a worker imports and builds once
        # (mapInArrow/mapInPandas closures, the zip directories kept by
        # _reuse_zip_directories) stays warm across tasks (the reference
        # loads the model once per worker, mapper.py:16-48)
        "spark.python.worker.reuse": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        # generous task retries for long jobs (reference docs recommend
        # spark.task.maxFailures for flaky multi-node inference runs)
        "spark.task.maxFailures": "4",
        "spark.ui.enabled": os.environ.get("SPARK_UI", "false"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _reuse_zip_directories() -> None:
    """Backport CPython 3.13's lazy ``zipimporter.invalidate_caches``
    into a Spark Python worker on Python < 3.13.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Before 3.13 that
    makes every ``zipimporter`` re-read its archive's whole directory, and
    a worker's path always holds Spark's core jar (5,359 entries) and
    ``pyspark.zip`` (1,328): about 0.1 s per task before its first row.
    3.13 only drops the cached directory, to be re-read on next use. Here
    an archive is re-read only when its ``(st_mtime_ns, st_size)`` differs
    from the one it was read at, so a zip replaced by ``addPyFile`` or
    ``--py-files`` is still re-read. Directories on the path at install
    were read by this task's ``setup_spark_files`` moments before.

    No-op on the driver (no task context), on Python >= 3.13 and when
    already installed.
    """
    zi = zipimport.zipimporter
    if (
        sys.version_info >= (3, 13)
        or TaskContext.get() is None
        or zi.invalidate_caches.__module__ == __name__
    ):
        return
    reread, cache = zi.invalidate_caches, zipimport._zip_directory_cache

    def stat_key(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    # archive -> (stat key, directory read at that key)
    read = {
        imp.archive: (stat_key(imp.archive), imp._files)
        for imp in list(sys.path_importer_cache.values())
        if isinstance(imp, zi) and imp.archive in cache
    }

    def invalidate_caches(self):
        key, hit = stat_key(self.archive), read.get(self.archive)
        if hit is not None and key is not None and hit[0] == key:
            self._files = cache[self.archive] = hit[1]
            return
        reread(self)
        if self.archive in cache:
            read[self.archive] = (key, self._files)

    zi.invalidate_caches = invalidate_caches
