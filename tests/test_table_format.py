"""Snapshot-committed table format (spark/table_format.py): commits,
time travel, manifest file pruning, and the compare-and-swap contract."""

import os

import pytest

from shapely_spark.geo.geom import box
from shapely_spark.geo.wkb import to_wkb
from shapely_spark.spark.table_format import (
    commit_append, current_snapshot_id, pruned_file_count, read_snapshot,
    snapshot, snapshot_log,
)


def _boxes(spark, lo, n, parts=2):
    rows = [(lo + i, to_wkb(box(float(lo + i), 0.0, lo + i + 1.0, 1.0)))
            for i in range(n)]
    return (spark.createDataFrame(rows, "id long, geometry binary")
            .repartition(parts))


def test_commit_read_and_cumulative_snapshots(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert current_snapshot_id(t) is None
    s0 = commit_append(_boxes(spark, 0, 10), t)
    s1 = commit_append(_boxes(spark, 100, 6), t)
    assert (s0["id"], s0["parent"]) == (0, None)
    assert (s1["id"], s1["parent"]) == (1, 0)
    assert current_snapshot_id(t) == 1
    assert read_snapshot(spark, t).count() == 16
    ids = {r.id for r in read_snapshot(spark, t).collect()}
    assert ids == set(range(10)) | set(range(100, 106))
    log = snapshot_log(t)
    assert [x["id"] for x in log] == [0, 1]
    assert [x["n_rows"] for x in log] == [10, 16]


def test_time_travel_is_immutable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 10), t)
    commit_append(_boxes(spark, 100, 6), t)
    old = read_snapshot(spark, t, snapshot_id=0)
    assert old.count() == 10
    assert {r.id for r in old.collect()} == set(range(10))


def test_manifest_file_pruning(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # two spatially disjoint commits, 2 files each
    commit_append(_boxes(spark, 0, 10), t)
    commit_append(_boxes(spark, 100, 10), t)
    surv, tot = pruned_file_count(t, (0, 0, 20, 1))
    assert tot == 4 and surv == 2
    df = read_snapshot(spark, t, bbox=(0, 0, 20, 1))
    # the scan only received the surviving files
    assert df.count() == 10
    assert {r.id for r in df.collect()} == set(range(10))
    with pytest.raises(ValueError, match="no files"):
        read_snapshot(spark, t, bbox=(500, 500, 501, 501))


def test_null_bbox_files_always_survive(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(0, None)], "id long, geometry binary")
    commit_append(df.coalesce(1), t)
    surv, tot = pruned_file_count(t, (500, 500, 501, 501))
    assert (surv, tot) == (1, 1)  # stats prune, never filter
    assert read_snapshot(spark, t, bbox=(500, 500, 501, 501)).count() == 1


def test_concurrent_commit_raises_and_preserves_head(spark, tmp_path,
                                                     monkeypatch):
    import shapely_spark.spark.table_format as tf

    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 4), t)
    commit_append(_boxes(spark, 10, 4), t)
    # simulate the race window: the loser read parent=0 before
    # snapshot 1 landed, then tries to exclusive-create snap-1
    monkeypatch.setattr(tf, "current_snapshot_id", lambda table: 0)
    with pytest.raises(RuntimeError, match="concurrent"):
        tf.commit_append(_boxes(spark, 20, 2), t)
    monkeypatch.undo()
    # the committed snapshot 1 is untouched
    assert {r.id for r in read_snapshot(spark, t, snapshot_id=1).collect()
            } == set(range(4)) | set(range(10, 14))


def test_crashed_commit_recovers_without_pointer(spark, tmp_path):
    # a writer that crashed AFTER exclusive-creating its snapshot file
    # but BEFORE refreshing the VERSION cache has still committed: the
    # head derives from the snapshot files, so the next commit builds on
    # it instead of colliding forever
    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 4), t)  # snap 0
    commit_append(_boxes(spark, 10, 2), t)  # snap 1
    with open(os.path.join(t, "meta", "VERSION"), "w") as fh:
        fh.write("0")  # stale cache — as if the snap-1 writer crashed
    assert current_snapshot_id(t) == 1
    s2 = commit_append(_boxes(spark, 20, 2), t)
    assert (s2["id"], s2["parent"]) == (2, 1)
    assert read_snapshot(spark, t).count() == 8


def test_snapshot_missing_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        snapshot(str(tmp_path / "empty_tbl"))


def test_read_incremental_exact_file_diff(spark, tmp_path):
    from shapely_spark.spark.table_format import read_incremental

    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 6), t)
    commit_append(_boxes(spark, 100, 4), t)
    commit_append(_boxes(spark, 200, 2), t)
    inc = read_incremental(spark, t, from_snapshot=0)
    assert {r.id for r in inc.collect()} == set(range(100, 104)) | {200, 201}
    inc2 = read_incremental(spark, t, from_snapshot=0, to_snapshot=1)
    assert {r.id for r in inc2.collect()} == set(range(100, 104))
    full = read_incremental(spark, t, from_snapshot=None)
    assert full.count() == 12
    # bbox pruning composes with the range
    west = read_incremental(spark, t, from_snapshot=0, bbox=(100, 0, 110, 1))
    assert {r.id for r in west.collect()} == set(range(100, 104))
    with pytest.raises(ValueError, match="incremental"):
        read_incremental(spark, t, from_snapshot=2)


# ---------------------------------------------------------------------------
# maintenance: compaction, snapshot expiry, orphan cleanup
# ---------------------------------------------------------------------------

def test_compact_merges_small_files_preserving_rows(spark, tmp_path):
    from shapely_spark.spark.table_format import compact_files

    t = str(tmp_path / "tbl")
    for k in range(4):  # small-append debris: 4 commits × 2 tiny files
        commit_append(_boxes(spark, 100 * k, 6), t)
    before = snapshot(t)
    assert len(before["files"]) == 8
    s = compact_files(spark, t, small_file_rows=10, target_file_rows=50)
    assert s["operation"] == "compact" and s["id"] == before["id"] + 1
    assert len(s["files"]) == 1
    assert sum(f["rows"] for f in s["files"]) == 24
    ids = {r.id for r in read_snapshot(spark, t).collect()}
    assert ids == {100 * k + i for k in range(4) for i in range(6)}
    # manifest bbox stats regenerated: window pruning still exact
    surv, tot = pruned_file_count(t, (0, 0, 10, 1))
    assert tot == 1 and surv == 1
    # time travel to the pre-compaction snapshot still reads old files
    assert read_snapshot(spark, t, snapshot_id=before["id"]).count() == 24


def test_compact_leaves_big_files_alone(spark, tmp_path):
    from shapely_spark.spark.table_format import compact_files

    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 40, parts=1), t)       # 1 big file
    commit_append(_boxes(spark, 100, 4, parts=2), t)      # 2 small files
    commit_append(_boxes(spark, 200, 4, parts=2), t)      # 2 small files
    big_paths = {f["path"] for f in snapshot(t)["files"] if f["rows"] >= 10}
    s = compact_files(spark, t, small_file_rows=10, target_file_rows=100)
    assert {f["path"] for f in s["files"] if f["rows"] >= 10} >= big_paths
    assert len(s["files"]) == 2  # big survivor + one rewritten file
    assert read_snapshot(spark, t).count() == 48


def test_compact_noop_below_two_small_files(spark, tmp_path):
    from shapely_spark.spark.table_format import compact_files

    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 10, parts=1), t)
    s = compact_files(spark, t, small_file_rows=5)
    assert s["id"] == 0 and current_snapshot_id(t) == 0


def test_expire_then_orphans_reclaimed(spark, tmp_path):
    from shapely_spark.spark.table_format import (
        compact_files, expire_snapshots, orphan_files, remove_orphan_files)

    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 6), t)
    commit_append(_boxes(spark, 100, 6), t)
    compact_files(spark, t, small_file_rows=10, target_file_rows=100)
    # all pre-compaction files still referenced by snaps 0/1 → no orphans
    assert orphan_files(t) == []
    dropped = expire_snapshots(t, keep_last=1)
    assert dropped == [0, 1]
    orphans = orphan_files(t)
    assert len(orphans) == 4  # the four compacted-away small files
    gone = remove_orphan_files(t)
    assert gone == orphans and orphan_files(t) == []
    # the retained head is untouched and fully readable
    assert read_snapshot(spark, t).count() == 12
    assert [x["id"] for x in snapshot_log(t)] == [2]
    with pytest.raises(FileNotFoundError):
        snapshot(t, 0)


def test_expire_keeps_lost_race_attempts_out_of_live_set(spark, tmp_path,
                                                         monkeypatch):
    from shapely_spark.spark import table_format as tf

    t = str(tmp_path / "tbl")
    commit_append(_boxes(spark, 0, 6), t)
    # simulate a lost commit race: stage data files, then fail the CAS
    real_commit = tf._commit

    def losing_commit(table, parent, files, geometry_col, operation):
        real_commit(table, parent, files, geometry_col, operation)
        raise RuntimeError("simulated race loss after staging")

    monkeypatch.setattr(tf, "_commit", losing_commit)
    with pytest.raises(RuntimeError, match="race"):
        commit_append(_boxes(spark, 100, 6), t)
    monkeypatch.setattr(tf, "_commit", real_commit)
    # loser's snapshot exists here (we failed AFTER CAS for simplicity);
    # expire everything but the head, then reclaim
    commit_append(_boxes(spark, 200, 6), t)
    tf.expire_snapshots(t, keep_last=1)
    tf.remove_orphan_files(t)
    assert read_snapshot(spark, t).count() == 18
