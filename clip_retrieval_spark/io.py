"""Table storage + atomic stage commit protocol.

The design target is Iceberg (`df.writeTo(cat.db.tbl).append()`, snapshot
commits give atomicity); the sandbox has no Iceberg runtime jar, so this
module provides the same CONTRACT over plain parquet directories:

* a stage's data is laid out as ``{root}/{table}/bucket=N/...`` parquet
  (hash-bucketed by url — the engine's unit of resume, replacing the
  reference's modulo output-partition files, reference
  clip_inference/writer.py:22,67);
* a bucket is COMMITTED only when its row appears in the
  ``_checkpoints`` ledger (written by the driver AFTER the data write
  succeeds — write-then-commit, the transactional version of the
  reference's wip_*.json -> rename protocol, reference
  clip_inference/logger.py:55-61);
* on restart, bucket directories with no checkpoint row are garbage
  from an interrupted run and are deleted before recompute.

The ledger is small parquet files the driver writes and reads with
pyarrow, never a Spark job; data moves only through Spark jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = (
    "stage string, partition_id int, rows long, wall_ms long, "
    "status string, run_id string"
)
# the same columns as pyarrow types, for the driver-side ledger files
_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64()}
LEDGER_SCHEMA = pa.schema(
    [(c, _ARROW_TYPES[t])
     for c, t in map(str.split, CHECKPOINT_SCHEMA.split(","))]
)


def _footer_rows(path: str) -> int:
    """Rows of every parquet file under ``path``, summed from the footers
    without a Spark job; 0 when ``path`` does not exist."""
    return sum(
        pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
        for root, _dirs, files in os.walk(path)
        for name in files
        if name.endswith(".parquet")
    )


@dataclass
class TableStore:
    spark: SparkSession
    root: str

    # -- paths ---------------------------------------------------------

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # -- data ----------------------------------------------------------

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def append_bucketed(self, df: DataFrame, table: str) -> None:
        """Append rows laid out by their ``bucket`` column (one dir per
        bucket — Iceberg identity-partitioning stand-in).

        Dynamic-partition writes default to a per-task sort by the
        partition column before opening files one at a time; raising
        maxConcurrentOutputFileWriters past the bucket count writes all
        buckets concurrently instead (measured ~15% off the narrow
        stages' wall at local[1]). Memory per open writer is bounded by
        the columnar page buffers, and a task can hold at most
        n_buckets writers; the conf is restored after the write so
        other writers keep the engine default."""
        spark = df.sparkSession
        key = "spark.sql.maxConcurrentOutputFileWriters"
        prev = spark.conf.get(key, "0")
        spark.conf.set(key, "128")
        try:
            (
                df.write.mode("append")
                .partitionBy("bucket")
                .parquet(self.path(table))
            )
        finally:
            spark.conf.set(key, prev)

    def write(self, df: DataFrame, table: str) -> None:
        df.write.mode("overwrite").parquet(self.path(table))

    # -- metadata-only row counts ----------------------------------------

    def fast_count(self, table: str) -> int:
        """Row count from parquet footers (driver-side, no Spark job —
        the Iceberg-snapshot-statistics stand-in). Re-scanning a 10^10-row
        table just to record its count is a job we never run."""
        return _footer_rows(self.path(table))

    def bucket_counts(self, table: str, buckets) -> dict[int, int]:
        """Per-bucket row counts from parquet footers."""
        tdir = self.path(table)
        return {
            int(b): _footer_rows(os.path.join(tdir, f"bucket={b}"))
            for b in buckets
        }

    # -- checkpoints ----------------------------------------------------

    def ledger(self) -> list[dict]:
        """Every checkpoint row, read on the driver (no Spark job).
        ``.``/``_``-prefixed files are skipped, as Spark skips them: a
        crash's uncommitted temp file, and the ``_SUCCESS``/``.crc``
        side files of ledgers that Spark's writer left."""
        p = self.path("_checkpoints")
        names = sorted(os.listdir(p)) if os.path.isdir(p) else []
        return [
            row
            for name in names
            if not name.startswith((".", "_"))
            for row in pq.read_table(os.path.join(p, name)).to_pylist()
        ]

    def checkpoints(self) -> DataFrame:
        """``ledger()`` as a Spark DataFrame, for callers that query it."""
        return self.spark.createDataFrame(self.ledger(), CHECKPOINT_SCHEMA)

    def committed_buckets(self, stage: str) -> set[int]:
        return {
            r["partition_id"]
            for r in self.ledger()
            if r["stage"] == stage and r["status"] == "done"
        }

    def commit_buckets(
        self,
        stage: str,
        bucket_rows: dict[int, int],
        wall_ms: int,
        run_id: str,
    ) -> None:
        """Write checkpoint rows AFTER the stage's data write succeeded:
        one parquet file under a hidden temp name, renamed into place.
        The rename is the commit point, as in SnapshotStore._publish."""
        p = self.path("_checkpoints")
        os.makedirs(p, exist_ok=True)
        rows = [
            {"stage": stage, "partition_id": int(b), "rows": int(n),
             "wall_ms": int(wall_ms), "status": "done", "run_id": run_id}
            for b, n in sorted(bucket_rows.items())
        ]
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(p, f".{name}.tmp")
        pq.write_table(pa.Table.from_pylist(rows, schema=LEDGER_SCHEMA), tmp)
        os.rename(tmp, os.path.join(p, name))

    def _gc_pending_commit_dir(self, table: str) -> None:
        """Remove a dead run's Hadoop committer pending dir. A SIGKILL
        between task commit and job commit leaves finished task files
        under ``<table>/_temporary/0/`` — and a LATER append job reuses
        the same pending dir (job attempt id is 0 for every fresh app),
        so its job commit would merge the stale task outputs into the
        table alongside the recomputation: silent duplicate rows. Called
        before any append to a table this store owns; never concurrent
        with a live writer (one driver owns a run)."""
        tmp = os.path.join(self.path(table), "_temporary")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)

    def gc_uncommitted(self, stage: str, table: str) -> list[int]:
        """Delete bucket dirs that have data but no checkpoint row —
        leftovers of an interrupted run (they will be recomputed)."""
        self._gc_pending_commit_dir(table)
        tdir = self.path(table)
        if not os.path.isdir(tdir):
            return []
        committed = self.committed_buckets(stage)
        dropped = []
        for name in os.listdir(tdir):
            if not name.startswith("bucket="):
                continue
            b = int(name.split("=", 1)[1])
            if b not in committed:
                shutil.rmtree(os.path.join(tdir, name))
                dropped.append(b)
        return sorted(dropped)

    # -- data clustering ---------------------------------------------------

    def clustered_write(
        self, df: DataFrame, table: str, cluster_cols: list[str]
    ) -> None:
        """Range-partition + sort-within-partitions write — data
        clustering for scan locality (the reference reorders its whole
        metadata collection by IVF cluster for sequential reads,
        ivf_metadata_ordering.py:46-84 / clip_back.py:627-644; with a
        table format this is just repartitionByRange + local sort, and
        min/max footer stats then prune range predicates at read time).
        """
        (
            df.repartitionByRange(*cluster_cols)
            .sortWithinPartitions(*cluster_cols)
            .write.mode("overwrite")
            .parquet(self.path(table))
        )

    # -- metrics ---------------------------------------------------------

    def log_metrics(self, stage: str, run_id: str, **metrics) -> None:
        """Append one metrics record (json-lines; a tiny side table the
        reference keeps as stats/*.json, logger.py:44-61)."""
        p = self.path("_metrics")
        os.makedirs(p, exist_ok=True)
        rec = {"stage": stage, "run_id": run_id, "at": time.time(), **metrics}
        with open(
            os.path.join(p, f"{stage}-{run_id}.jsonl"), "a", encoding="utf-8"
        ) as f:
            f.write(json.dumps(rec) + "\n")


def zorder_key(cols: list[str], bits: int = 16):
    """Z-order (Morton) interleave of up to 4 non-negative integer
    columns into one long sort key — multi-dimensional data clustering
    for scan locality: range-partition + sort by this key and rows
    close in ALL dimensions land in the same files, so parquet min/max
    footer stats prune predicates on ANY clustered column (the
    multi-column generalization of TableStore.clustered_write's
    single-order IVF reorder; Iceberg exposes the same thing as a
    z-order sort order).

    Pure JVM bit arithmetic (bits*len(cols) shift/or terms, folded by
    whole-stage codegen) — no UDF. Columns must already be bucketized
    to < 2^bits (cast/clip upstream); values >= 2^bits would alias.
    """
    if not 1 <= len(cols) <= 4:
        raise ValueError(f"zorder_key takes 1..4 columns: {cols}")
    n = len(cols)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(
                F.lit(1).cast("long")
            )
            key = key.bitwiseOR(
                F.shiftleft(bit, b * n + i)
            )
    return key


def clustered_write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Write ``df`` z-order-clustered on ``cols``: repartitionByRange +
    sortWithinPartitions on the interleaved key, so every output file
    covers a compact hyper-rectangle of the clustered dimensions.
    ``n_files`` pins the range-partition count (otherwise AQE sizes it
    from data volume — correct at scale, but it collapses toy inputs
    to one file)."""
    keyed = df.withColumn("_z", zorder_key(cols, bits))
    ranged = (
        keyed.repartitionByRange(n_files, "_z")
        if n_files
        else keyed.repartitionByRange("_z")
    )
    (
        ranged.sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# snapshot store: snapshot-isolated reads, time travel, rollback
# ---------------------------------------------------------------------------


@dataclass
class SnapshotStore:
    """Iceberg-snapshot semantics over plain parquet (same stand-in
    rationale as TableStore, which covers the write-then-commit RESUME
    contract; this class covers the snapshot READ contract Iceberg
    gives for free):

    * every commit writes its data files into an immutable
      ``{table}/snap-{id}/`` directory, then publishes an atomic JSON
      manifest (`os.rename`) under ``{table}/_snapshots/`` listing the
      FULL set of live data dirs for that snapshot;
    * readers resolve the manifest chain, never the directory listing —
      a crash between data write and manifest publish leaves an orphan
      dir that no reader ever sees (snapshot isolation);
    * time travel is ``read(table, as_of=<id>)``; rollback is a new
      metadata-only manifest whose dir set equals the old snapshot's
      (O(1), no data moves — exactly Iceberg's rollback);
    * ``expire_snapshots`` drops manifests beyond a retention window
      and GCs data dirs no retained snapshot references (including
      crash orphans).

    Manifests are driver-side JSON, one per commit — the stand-in for
    Iceberg's avro manifest lists; at 10^12 rows the per-commit
    manifest stays O(dirs-per-commit), and the chain length is bounded
    by ``expire_snapshots``. Single-writer per table (one driver owns a
    run — TableStore's standing invariant); readers are isolated at
    any concurrency."""

    spark: SparkSession
    root: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _meta_dir(self, table: str) -> str:
        return os.path.join(self.path(table), "_snapshots")

    # -- manifest chain --------------------------------------------------

    def snapshots(self, table: str) -> list[dict]:
        """All published manifests, oldest first."""
        mdir = self._meta_dir(table)
        if not os.path.isdir(mdir):
            return []
        out = []
        for name in sorted(os.listdir(mdir)):
            if name.startswith("manifest-") and name.endswith(".json"):
                with open(os.path.join(mdir, name), encoding="utf-8") as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["snapshot_id"])

    def current_snapshot_id(self, table: str) -> int | None:
        snaps = self.snapshots(table)
        return snaps[-1]["snapshot_id"] if snaps else None

    def _publish(
        self,
        table: str,
        operation: str,
        dirs: list[str],
        rows_added: int,
    ) -> int:
        snaps = self.snapshots(table)
        sid = (snaps[-1]["snapshot_id"] + 1) if snaps else 1
        manifest = {
            "snapshot_id": sid,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else None,
            "operation": operation,
            "dirs": sorted(dirs),
            "rows_added": int(rows_added),
            "ts_ms": int(time.time() * 1000),
        }
        mdir = self._meta_dir(table)
        os.makedirs(mdir, exist_ok=True)
        final = os.path.join(mdir, f"manifest-{sid:08d}.json")
        tmp = final + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)  # atomic publish: the commit point
        return sid

    def _resolve(self, table: str, as_of: int | None) -> dict:
        snaps = self.snapshots(table)
        if not snaps:
            raise ValueError(f"table {table!r} has no snapshots")
        if as_of is None:
            return snaps[-1]
        for m in snaps:
            if m["snapshot_id"] == as_of:
                return m
        raise ValueError(
            f"table {table!r} has no snapshot {as_of} "
            f"(have {[m['snapshot_id'] for m in snaps]})"
        )

    # -- commits ----------------------------------------------------------

    def _write_snap_dir(self, df: DataFrame, table: str, sid_hint: int) -> str:
        d = os.path.join(self.path(table), f"snap-{sid_hint:08d}")
        df.write.mode("overwrite").parquet(d)
        return d

    def append(self, df: DataFrame, table: str) -> int:
        """Commit ``df`` as a new snapshot = previous dirs + one new
        immutable dir. Returns the snapshot id."""
        cur = self.current_snapshot_id(table) or 0
        d = self._write_snap_dir(df, table, cur + 1)
        prev = self.snapshots(table)
        dirs = (prev[-1]["dirs"] if prev else []) + [d]
        return self._publish(table, "append", dirs, _footer_rows(d))

    def overwrite(self, df: DataFrame, table: str) -> int:
        """Commit ``df`` as a full replacement (the MERGE/compaction
        commit shape): the new snapshot references ONLY the new dir;
        old dirs stay readable via time travel until expired."""
        cur = self.current_snapshot_id(table) or 0
        d = self._write_snap_dir(df, table, cur + 1)
        return self._publish(table, "overwrite", [d], _footer_rows(d))

    def compact(self, table: str, n_files: int) -> int:
        """Small-file compaction (Iceberg's rewrite_data_files): read
        the current snapshot, rewrite it as ``n_files`` files in one
        new dir, commit as a replacement snapshot. Readers see either
        the old file set or the new one, never a mix; the uncompacted
        snapshot stays time-travelable until expired. At cluster scale
        this is THE answer to the many-small-appends dump cadence —
        each incremental commit adds a few files, and a periodic
        compaction keeps scan task counts bounded."""
        cur = self.read(table).repartition(n_files)
        sid = self.current_snapshot_id(table)
        d = self._write_snap_dir(cur, table, sid + 1)
        return self._publish(table, "compact", [d], _footer_rows(d))

    def rollback(self, table: str, snapshot_id: int) -> int:
        """Metadata-only rollback: publish a new snapshot whose dir set
        equals ``snapshot_id``'s. No data moves; the rolled-past
        snapshots stay time-travelable until expired."""
        target = self._resolve(table, snapshot_id)
        return self._publish(table, "rollback", target["dirs"], 0)

    # -- reads --------------------------------------------------------------

    def read(self, table: str, as_of: int | None = None) -> DataFrame:
        """Snapshot-isolated read: current snapshot, or time travel to
        ``as_of``. Only manifest-listed dirs are scanned — in-flight or
        crashed writes are invisible."""
        m = self._resolve(table, as_of)
        if not m["dirs"]:
            raise ValueError(
                f"snapshot {m['snapshot_id']} of {table!r} is empty"
            )
        return self.spark.read.parquet(*m["dirs"])

    # -- retention ------------------------------------------------------------

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list[str]:
        """Drop all but the last ``keep_last`` manifests and delete
        every data dir no retained snapshot references — including
        orphan dirs from crashes between data write and manifest
        publish, whose ``manifest-*.json.tmp`` files are deleted too.
        Returns the deleted dirs."""
        snaps = self.snapshots(table)
        if not snaps:
            return []
        keep = snaps[-max(keep_last, 1):]
        live = {d for m in keep for d in m["dirs"]}
        mdir = self._meta_dir(table)
        keep_ids = {m["snapshot_id"] for m in keep}
        for m in snaps:
            if m["snapshot_id"] not in keep_ids:
                os.remove(
                    os.path.join(
                        mdir, f"manifest-{m['snapshot_id']:08d}.json"
                    )
                )
        for name in os.listdir(mdir):
            if name.startswith("manifest-") and name.endswith(".json.tmp"):
                os.remove(os.path.join(mdir, name))
        dropped = []
        tdir = self.path(table)
        for name in sorted(os.listdir(tdir)):
            d = os.path.join(tdir, name)
            if (
                name.startswith("snap-")
                and os.path.isdir(d)
                and d not in live
            ):
                shutil.rmtree(d)
                dropped.append(d)
        return dropped
