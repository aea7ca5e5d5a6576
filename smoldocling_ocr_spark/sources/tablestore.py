"""Snapshot-committing table store (Iceberg-contract emulation).

No iceberg-spark-runtime jar ships in this sandbox, so the snapshot/lineage
contract (SURVEY.md §7.2) is emulated over plain parquet: every commit writes
data files under ``data/`` plus an immutable manifest JSON under
``snapshots/`` recording snapshot id, parent id, the file list, and row
counts. Readers resolve the latest snapshot and read exactly its files —
which gives the properties the pipeline relies on:

* atomic visibility — a crashed write never surfaces partial files
  (manifest is written last, via atomic rename)
* time travel — read any prior snapshot id
* exact checkpoint-resume — the resume anti-join runs against a *snapshot*,
  not a directory listing, so concurrent appends don't double-extract

On a real cluster the identical call sites swap to
``df.writeTo(table).append()`` / ``MERGE INTO`` with the Iceberg catalog;
the schema contract stays the same.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _footer_row_count(commit_dir: str) -> int:
    """Row count of a written commit from parquet footer metadata — a
    driver-side O(footers) read instead of a second full Spark scan of the
    data just written. Real Iceberg gets the same number for free from the
    snapshot summary (``total-records``)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(commit_dir, fn)).metadata.num_rows
        for fn in os.listdir(commit_dir)
        if fn.endswith(".parquet")
    )


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.snap_dir = os.path.join(root, "snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- manifest handling ---------------------------------------------------

    def _snapshots(self) -> list[dict]:
        snaps = []
        for fn in os.listdir(self.snap_dir):
            if fn.endswith(".json"):
                with open(os.path.join(self.snap_dir, fn)) as f:
                    snaps.append(json.load(f))
        return sorted(snaps, key=lambda s: s["sequence"])

    def current_snapshot(self) -> dict | None:
        snaps = self._snapshots()
        return snaps[-1] if snaps else None

    # -- write path ----------------------------------------------------------

    def _commit(
        self,
        df: DataFrame,
        operation: str,
        account: Callable[[dict | None, list[str], int], tuple[list[str], int, int]],
    ) -> dict:
        """Write ``df`` as a new commit directory and publish its manifest
        (parent = current) by atomic rename. ``account(parent, files,
        row_count)`` returns the snapshot's (files, added_rows, total_rows)
        from the parent manifest, the commit's files and their footer row
        count; a raise there publishes nothing."""
        commit_id = uuid.uuid4().hex[:12]
        commit_dir = os.path.join(self.data_dir, f"commit-{commit_id}")
        df.write.mode("error").parquet(commit_dir)
        added = sorted(
            os.path.join(commit_dir, fn)
            for fn in os.listdir(commit_dir)
            if fn.endswith(".parquet")
        )
        parent = self.current_snapshot()
        files, added_rows, total_rows = account(parent, added, _footer_row_count(commit_dir))
        manifest = {
            "snapshot_id": commit_id,
            "parent_id": parent["snapshot_id"] if parent else None,
            "sequence": (parent["sequence"] + 1) if parent else 1,
            "operation": operation,
            "timestamp_ms": int(time.time() * 1000),
            "files": files,
            "added_files": added,
            "added_rows": added_rows,
            "total_rows": total_rows,
        }
        tmp = os.path.join(self.snap_dir, f".{commit_id}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.snap_dir, f"{manifest['sequence']:012d}-{commit_id}.json"))
        return manifest

    def append(self, df: DataFrame) -> dict:
        """Commit df as a new snapshot (parent = current)."""

        def account(parent: dict | None, added: list[str], rows: int) -> tuple[list[str], int, int]:
            if parent is None:
                return added, rows, rows
            return parent["files"] + added, rows, parent["total_rows"] + rows

        return self._commit(df, "append", account)

    def merge(self, df: DataFrame, key: str = "url") -> dict:
        """MERGE INTO emulation (idempotent upsert by key): the new snapshot
        holds (current rows whose key is absent from df) ∪ df, written as a
        full copy-on-write commit — re-running the same merge is a no-op in
        content. Real Iceberg does this with row-level deletes; the snapshot
        isolation, atomicity, and time-travel properties here are identical.
        """
        spark = df.sparkSession
        # real MERGE INTO raises when a target row matches more than one
        # source row; enforce source-key uniqueness instead of silently
        # keeping duplicates in the snapshot. ONE partial-aggregating job
        # (count / count(key) / count_distinct(key)) replaces the old
        # groupBy-count-filter-collect probe PLUS the separate df.count() —
        # the example-duplicate lookup runs only on the error path.
        counts = df.agg(
            F.count("*").alias("n"),
            F.count(key).alias("nonnull"),
            F.count_distinct(F.col(key)).alias("distinct"),
        ).collect()[0]
        n_nulls = counts["n"] - counts["nonnull"]
        if counts["nonnull"] != counts["distinct"] or n_nulls > 1:
            dup = df.groupBy(key).count().filter(F.col("count") > 1).limit(1).collect()
            example = dup[0][key] if dup else None
            raise ValueError(
                f"merge source has duplicate values for key {key!r} (e.g. {example!r})"
            )
        source_rows = counts["n"]
        current = self.read(spark)
        merged = df if current is None else current.join(df.select(key), on=key, how="left_anti").unionByName(df)

        # copy-on-write: this snapshot's files REPLACE the parent's; its
        # added_rows is the upsert delta (source rows), not the rewritten
        # snapshot size — history() row accounting sums to the true ingest
        # volume
        return self._commit(merged, "merge", lambda parent, added, rows: (added, source_rows, rows))

    # -- read path -----------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame | None:
        """Read the latest snapshot (or a specific one — time travel)."""
        snaps = self._snapshots()
        if not snaps:
            return None
        if snapshot_id is None:
            snap = snaps[-1]
        else:
            matching = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not matching:
                raise KeyError(f"unknown snapshot {snapshot_id}")
            snap = matching[0]
        if not snap["files"]:
            return None
        return spark.read.parquet(*snap["files"])

    def history(self) -> list[dict]:
        return [
            {k: s[k] for k in ("snapshot_id", "parent_id", "sequence", "operation", "added_rows", "total_rows")}
            for s in self._snapshots()
        ]

    def compact(self, spark: SparkSession, target_partitions: int = 4) -> dict | None:
        """Small-files maintenance (Iceberg ``rewrite_data_files`` analog):
        rewrite the current snapshot's file set into ``target_partitions``
        files as a new snapshot. Content-identical, time travel to every
        pre-compaction snapshot still works (old files are referenced by old
        manifests and never deleted — expiry is a separate policy decision).

        At 10^12 docs an append-per-batch job accretes millions of small
        parquet files; scan task count tracks file count, so periodic
        compaction is what keeps read parallelism sized to data, not to
        commit history.
        """
        current = self.read(spark)
        if current is None:
            return None
        compacted = current.repartition(target_partitions)

        def account(parent: dict, added: list[str], rows: int) -> tuple[list[str], int, int]:
            if rows != parent["total_rows"]:
                raise RuntimeError(f"compaction row drift: {rows} != {parent['total_rows']}")
            return added, 0, rows  # maintenance: no logical rows added

        return self._commit(compacted, "compact", account)

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg ``expire_snapshots`` analog: drop all but the newest
        ``keep_last`` manifests and garbage-collect data files referenced
        ONLY by the expired ones (a file shared with any retained snapshot
        survives — append manifests carry the full live file list, so
        shared references are the normal case). Returns an accounting dict.

        Time travel contracts after expiry: retained snapshots keep
        working; reads of expired ids raise KeyError in read(). At 10^12
        docs this is what bounds metadata growth and reclaims storage from
        compacted-away small files; the deletion order (manifests first,
        then orphaned files) means a crash mid-expiry leaves only harmless
        unreferenced files, never a manifest pointing at deleted data."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self._snapshots()
        if len(snaps) <= keep_last:
            return {"expired_snapshots": 0, "deleted_files": 0, "kept_snapshots": len(snaps)}
        expired, retained = snaps[:-keep_last], snaps[-keep_last:]
        keep_files = {f for s in retained for f in s["files"]}
        dead = [
            f
            for s in expired
            for f in s["files"]
            if f not in keep_files
        ]
        dead = sorted(set(dead))
        # manifests first: once a manifest is gone its files are invisible,
        # so a crash between the two phases only strands orphan files
        for s in expired:
            path = os.path.join(
                self.snap_dir, f"{s['sequence']:012d}-{s['snapshot_id']}.json"
            )
            os.remove(path)
        deleted = 0
        for f in dead:
            if os.path.exists(f):
                os.remove(f)
                deleted += 1
        # drop now-empty commit dirs so the data dir doesn't accrete husks
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if os.path.isdir(full) and not os.listdir(full):
                os.rmdir(full)
        return {
            "expired_snapshots": len(expired),
            "deleted_files": deleted,
            "kept_snapshots": len(retained),
        }
