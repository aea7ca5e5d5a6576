"""Snapshot-table (Iceberg-contract emulation) tests: append, time travel,
and exact checkpoint-resume against a snapshot."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_snapshot_append_and_time_travel(spark, tmp_path):
    from smoldocling_ocr_spark.sources.tablestore import SnapshotTable

    table = SnapshotTable(str(tmp_path / "tbl"))
    assert table.read(spark) is None

    df1 = spark.range(5).withColumnRenamed("id", "url")
    snap1 = table.append(df1)
    assert snap1["added_rows"] == 5 and snap1["total_rows"] == 5

    df2 = spark.range(5, 8).withColumnRenamed("id", "url")
    snap2 = table.append(df2)
    assert snap2["parent_id"] == snap1["snapshot_id"]
    assert snap2["total_rows"] == 8

    assert table.read(spark).count() == 8
    # time travel to the first snapshot
    assert table.read(spark, snapshot_id=snap1["snapshot_id"]).count() == 5
    hist = table.history()
    assert [h["sequence"] for h in hist] == [1, 2]


def test_resume_against_snapshot(spark, tmp_path):
    """Extraction resume: second run extracts only urls absent from the
    committed snapshot, and its commit brings the table to full coverage."""
    from smoldocling_ocr_spark.operators.pipeline import extract_documents
    from smoldocling_ocr_spark.sources.documents import read_cc_documents
    from smoldocling_ocr_spark.sources.tablestore import SnapshotTable

    docs = read_cc_documents(spark, "/root/testdata/sf0.001")
    total = docs.count()
    table = SnapshotTable(str(tmp_path / "extracted"))

    first_half = docs.orderBy("url").limit(total // 2)
    table.append(extract_documents(first_half, num_partitions=4))

    committed = table.read(spark)
    second = extract_documents(docs, num_partitions=4, already_extracted=committed)
    n_second = second.count()
    assert n_second == total - total // 2
    table.append(second)

    final = table.read(spark)
    assert final.count() == total
    assert final.select("url").distinct().count() == total
    # rerunning resume against the full snapshot extracts nothing
    assert extract_documents(docs, already_extracted=table.read(spark)).count() == 0


def test_merge_upsert_idempotent(spark, tmp_path):
    """MERGE INTO emulation: upsert by url replaces matching rows, keeps the
    rest, and re-running the identical merge changes nothing (idempotent
    re-runs — the cache/resume contract). Old snapshot stays readable."""
    from smoldocling_ocr_spark.sources.tablestore import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [("u1", "v1"), ("u2", "v1"), ("u3", "v1")], ["url", "payload"]
    )
    snap1 = t.append(base)

    update = spark.createDataFrame([("u2", "v2"), ("u4", "v2")], ["url", "payload"])
    snap2 = t.merge(update, key="url")
    got = {(r["url"], r["payload"]) for r in t.read(spark).collect()}
    assert got == {("u1", "v1"), ("u2", "v2"), ("u3", "v1"), ("u4", "v2")}
    assert snap2["operation"] == "merge" and snap2["total_rows"] == 4

    snap3 = t.merge(update, key="url")  # identical re-run
    again = {(r["url"], r["payload"]) for r in t.read(spark).collect()}
    assert again == got and snap3["total_rows"] == 4

    # time travel: the pre-merge snapshot is untouched
    old = {(r["url"], r["payload"]) for r in t.read(spark, snap1["snapshot_id"]).collect()}
    assert old == {("u1", "v1"), ("u2", "v1"), ("u3", "v1")}


def test_merge_added_rows_delta_and_duplicate_key_raises(spark, tmp_path):
    """added_rows records the upsert delta (source rows), not the rewritten
    COW snapshot size, so summing history() row accounting gives true ingest
    volume; and a source with duplicate keys raises like real MERGE INTO."""
    import pytest
    from smoldocling_ocr_spark.sources.tablestore import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([("u1", "v1"), ("u2", "v1")], ["url", "payload"]))

    snap = t.merge(spark.createDataFrame([("u2", "v2")], ["url", "payload"]), key="url")
    assert snap["added_rows"] == 1
    assert snap["total_rows"] == 2

    dup = spark.createDataFrame([("u9", "a"), ("u9", "b")], ["url", "payload"])
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(dup, key="url")


def test_compaction_preserves_content_and_time_travel(spark, tmp_path):
    """compact() rewrites the live file set into few files as a NEW snapshot:
    content identical, added_rows 0, and time travel to pre-compaction
    snapshots still resolves their original files."""
    from smoldocling_ocr_spark.sources.tablestore import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    for batch in range(4):  # 4 appends × multi-file commits → many small files
        t.append(
            spark.range(batch * 10, batch * 10 + 10)
            .repartition(4)
            .selectExpr("cast(id as string) AS url", "id AS v")
        )
    pre = t.current_snapshot()
    assert len(pre["files"]) >= 8

    snap = t.compact(spark, target_partitions=2)
    assert snap["operation"] == "compact" and snap["added_rows"] == 0
    assert len(snap["files"]) <= 2
    got = {(r["url"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(str(i), i) for i in range(40)}
    # time travel to the pre-compaction snapshot unaffected
    old = t.read(spark, pre["snapshot_id"])
    assert old.count() == 40 and len(pre["files"]) >= 8


def test_compaction_row_drift_publishes_nothing(spark, tmp_path, monkeypatch):
    """compact() checks the rewritten row count against the parent before it
    publishes: on drift it raises and the table keeps its current snapshot."""
    from smoldocling_ocr_spark.sources import tablestore

    t = tablestore.SnapshotTable(str(tmp_path / "tbl"))
    snap = t.append(spark.range(6).selectExpr("cast(id as string) AS url"))
    assert list(snap) == [
        "snapshot_id", "parent_id", "sequence", "operation", "timestamp_ms",
        "files", "added_files", "added_rows", "total_rows",
    ]
    monkeypatch.setattr(tablestore, "_footer_row_count", lambda commit_dir: 5)
    with pytest.raises(RuntimeError, match="compaction row drift: 5 != 6"):
        t.compact(spark, target_partitions=1)
    assert [h["snapshot_id"] for h in t.history()] == [snap["snapshot_id"]]
    assert not [f for f in os.listdir(t.snap_dir) if f.endswith(".tmp")]


def test_expire_snapshots_gc(spark, tmp_path):
    """expire_snapshots keeps the newest N manifests, deletes data files
    referenced only by expired ones, and leaves shared files (append
    manifests carry the full live list) untouched; reads of expired ids
    raise, retained time travel still works."""
    import os

    import pytest

    from smoldocling_ocr_spark.sources.tablestore import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    snaps = []
    for batch in range(3):
        snaps.append(
            t.append(
                spark.range(batch * 5, batch * 5 + 5)
                .repartition(2)
                .selectExpr("cast(id as string) AS url", "id AS v")
            )
        )
    # compact: the compacted snapshot references ONLY its own rewritten
    # files, so after expiry the three original commits become orphans
    t.compact(spark, target_partitions=1)

    res = t.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"] == 3 and res["kept_snapshots"] == 1
    assert res["deleted_files"] > 0
    # the live read is intact
    got = {(r["url"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(str(i), i) for i in range(15)}
    # expired snapshot id no longer resolves
    with pytest.raises(KeyError):
        t.read(spark, snapshot_id=snaps[0]["snapshot_id"])
    # every file referenced by the retained manifest still exists
    cur = t.current_snapshot()
    assert all(os.path.exists(f) for f in cur["files"])
    # noop expiry when nothing to drop
    res2 = t.expire_snapshots(keep_last=5)
    assert res2["expired_snapshots"] == 0

    # retention floor: a shared-file case — append after compaction, then
    # keep_last=2 must retain the compacted files BOTH snapshots reference
    t.append(spark.range(100, 105).selectExpr("cast(id as string) AS url", "id AS v"))
    res3 = t.expire_snapshots(keep_last=2)
    assert res3["deleted_files"] == 0  # compacted files shared with newest
    got2 = {r["v"] for r in t.read(spark).collect()}
    assert got2 == set(range(15)) | set(range(100, 105))
