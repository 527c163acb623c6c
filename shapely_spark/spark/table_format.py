"""Snapshot-committed table format over the GeoParquet sink — the
engine's Iceberg-shaped storage layer (append-only snapshots, optimistic
commits, time travel, and manifest-driven FILE pruning before the scan).

Semantics follow the public Apache Iceberg model (spec concepts:
snapshot log, manifest with per-file stats, compare-and-swap commit);
the implementation is this engine's own, sized to what the pipeline
needs:

- ``<table>/data/``  immutable parquet data files (written by
  spark/geoparquet.py: executor-side pyarrow, per-file ``geo`` footer,
  bbox covering column).
- ``<table>/meta/snap-N.json``  snapshot N = its parent id plus the
  FULL file list, each entry carrying the per-file stats the writer's
  manifest already produced (rows + bbox).
- ``<table>/meta/VERSION``  the current-snapshot pointer, advanced by
  atomic rename (os.rename of a staged pointer) — the compare-and-swap:
  a concurrent committer that lost the race sees a parent mismatch and
  raises instead of clobbering.

Scale shape: a commit moves ONE small JSON (a row per data file — the
same cardinality Iceberg manifests carry); readers plan from the
manifest driver-side. ``read_snapshot(bbox=...)`` intersects the query
window with each file's manifest bbox and hands Spark ONLY the
surviving files — file-level pruning before any footer is opened, the
Iceberg partition-pruning analog — then the bbox covering column prunes
row groups inside them. Time travel = reading an older snapshot's file
list; nothing is ever rewritten, so resumable pipelines can re-read the
exact input set of any past run (the lineage contract of
spark/lineage.py at the storage layer).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .geoparquet import write_geoparquet


def _meta_dir(table: str) -> str:
    return os.path.join(table, "meta")


def _snap_path(table: str, sid: int) -> str:
    return os.path.join(_meta_dir(table), f"snap-{sid}.json")


def current_snapshot_id(table: str) -> int | None:
    """The committed snapshot id, or None for an empty/new table.

    Derived from the snapshot FILES (max snap-N.json), not the VERSION
    pointer: the exclusive create of the snapshot file is the commit
    itself, so a writer that crashed between creating it and refreshing
    the pointer has still committed — deriving the head from the files
    makes recovery automatic, where trusting a stale pointer would make
    every later commit collide with the "orphan" forever. VERSION is
    maintained as a fast-path cache only."""
    meta = _meta_dir(table)
    if not os.path.isdir(meta):
        return None
    ids = [int(f[5:-5]) for f in os.listdir(meta)
           if f.startswith("snap-") and f.endswith(".json")]
    return max(ids) if ids else None


def snapshot(table: str, snapshot_id: int | None = None) -> dict:
    """Load a snapshot's metadata (defaults to the current one)."""
    sid = current_snapshot_id(table) if snapshot_id is None else snapshot_id
    if sid is None:
        raise FileNotFoundError(f"{table} has no committed snapshot")
    with open(_snap_path(table, sid)) as fh:
        return json.load(fh)


def snapshot_log(table: str) -> list[dict]:
    """All retained snapshots, oldest first (id, parent, file/row
    counts). The walk stops at the first EXPIRED ancestor — after
    ``expire_snapshots`` the history is intentionally truncated, not
    broken."""
    sid = current_snapshot_id(table)
    out = []
    while sid is not None:
        try:
            s = snapshot(table, sid)
        except FileNotFoundError:
            break
        out.append({"id": s["id"], "parent": s["parent"],
                    "n_files": len(s["files"]),
                    "n_rows": sum(f["rows"] for f in s["files"])})
        sid = s["parent"]
    return list(reversed(out))


def _write_attempt(df: DataFrame, table: str, sid: int,
                   geometry_col: str, crs: dict | None) -> list[dict]:
    """Stage data files under a unique ATTEMPT prefix — two racers both
    computing sid = parent+1 must never write into the same directory
    (the loser's attempt dir stays orphaned; the winner's is the one
    its snapshot file references). Returns manifest entries."""
    import uuid

    attempt = f"snap-{sid}-{uuid.uuid4().hex[:8]}"
    subdir = os.path.join(table, "data", attempt)
    manifest = write_geoparquet(df, subdir, geometry_col=geometry_col,
                                crs=crs)
    return [{"path": os.path.join("data", attempt, m.file),
             "rows": m.rows,
             "bbox": None if m.xmin is None
             else [m.xmin, m.ymin, m.xmax, m.ymax]}
            for m in manifest]


def _commit(table: str, parent: int | None, files: list[dict],
            geometry_col: str, operation: str) -> dict:
    """Compare-and-swap commit of a fully-built file list: both racers
    compute sid = parent+1, and exclusive-create ('x') of
    snap-<sid>.json lets exactly ONE win — the loser raises and its
    staged data files stay unreferenced (the Iceberg orphan-file
    analog). The VERSION pointer is then advanced by atomic rename;
    only the snap-file winner ever writes it."""
    meta = _meta_dir(table)
    os.makedirs(meta, exist_ok=True)
    sid = 0 if parent is None else parent + 1
    snap = {"id": sid, "parent": parent, "files": files,
            "geometry_col": geometry_col, "operation": operation}
    try:
        with open(_snap_path(table, sid), "x") as fh:
            json.dump(snap, fh)
    except FileExistsError:
        raise RuntimeError(
            f"concurrent commit: snapshot {sid} already committed "
            f"on top of parent {parent}") from None
    staged = os.path.join(meta, f"VERSION.stage-{sid}")
    with open(staged, "w") as fh:
        fh.write(str(sid))
    os.replace(staged, os.path.join(meta, "VERSION"))
    return snap


def commit_append(
    df: DataFrame,
    table: str,
    geometry_col: str = "geometry",
    crs: dict | None = None,
) -> dict:
    """Append ``df`` as a new snapshot: write the data files (GeoParquet,
    one per partition), then commit parent+files via compare-and-swap on
    the VERSION pointer. Returns the new snapshot dict. Raises
    RuntimeError if another commit won the race (retry by re-running —
    the data files of the losing attempt are unreferenced, an Iceberg
    orphan-file analog)."""
    parent = current_snapshot_id(table)
    sid = 0 if parent is None else parent + 1
    new = _write_attempt(df, table, sid, geometry_col, crs)
    files = [] if parent is None else snapshot(table, parent)["files"]
    return _commit(table, parent, files + new, geometry_col, "append")


def read_snapshot(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Scan a snapshot. With ``bbox``, files whose manifest bbox cannot
    intersect the window are dropped DRIVER-SIDE before the scan (file
    pruning from manifest stats); the covering column then prunes row
    groups within the survivors. Files with no bbox stats (all-NULL
    geometry) are always kept — stats prune, never filter."""
    s = snapshot(table, snapshot_id)
    files = s["files"]
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        files = [f for f in files
                 if f["bbox"] is None
                 or (f["bbox"][0] <= xmax and f["bbox"][2] >= xmin
                     and f["bbox"][1] <= ymax and f["bbox"][3] >= ymin)]
    if not files:
        raise ValueError("no files survive pruning; empty scan")
    paths = [os.path.join(table, f["path"]) for f in files]
    return spark.read.parquet(*paths)


def read_incremental(
    spark: SparkSession,
    table: str,
    from_snapshot: int | None,
    to_snapshot: int | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Scan only the files ADDED after ``from_snapshot`` up to
    ``to_snapshot`` (default: current head) — the Iceberg
    incremental-read analog, and the resume primitive: a pipeline that
    recorded the snapshot id it last processed re-enters with exactly
    the unseen data, no anti-join against the processed set needed
    (file lists are append-only, so set difference is exact).
    ``from_snapshot=None`` means "from before the first commit" (reads
    everything). ``bbox`` applies the same manifest file pruning as
    ``read_snapshot``."""
    to = snapshot(table, to_snapshot)
    seen = set() if from_snapshot is None else {
        f["path"] for f in snapshot(table, from_snapshot)["files"]}
    files = [f for f in to["files"] if f["path"] not in seen]
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        files = [f for f in files
                 if f["bbox"] is None
                 or (f["bbox"][0] <= xmax and f["bbox"][2] >= xmin
                     and f["bbox"][1] <= ymax and f["bbox"][3] >= ymin)]
    if not files:
        raise ValueError("no files in the incremental range")
    paths = [os.path.join(table, f["path"]) for f in files]
    return spark.read.parquet(*paths)


def pruned_file_count(
    table: str,
    bbox: tuple[float, float, float, float],
    snapshot_id: int | None = None,
) -> tuple[int, int]:
    """(surviving, total) file counts for a window — the audit hook the
    bench uses to prove manifest pruning actually drops files."""
    s = snapshot(table, snapshot_id)
    xmin, ymin, xmax, ymax = bbox
    surv = sum(
        1 for f in s["files"]
        if f["bbox"] is None
        or (f["bbox"][0] <= xmax and f["bbox"][2] >= xmin
            and f["bbox"][1] <= ymax and f["bbox"][3] >= ymin))
    return surv, len(s["files"])


# ---------------------------------------------------------------------------
# maintenance: compaction, snapshot expiry, orphan cleanup
# ---------------------------------------------------------------------------

def compact_files(
    spark: SparkSession,
    table: str,
    small_file_rows: int = 100_000,
    target_file_rows: int = 1_000_000,
) -> dict:
    """The Iceberg ``rewriteDataFiles`` analog: rewrite the current
    snapshot's SMALL files (rows < ``small_file_rows`` — the debris many
    small appends leave behind) into files of
    ~``target_file_rows``, and commit a ``compact`` snapshot whose file
    list is (untouched big files) + (rewritten files). The row multiset
    is unchanged; per-file manifest stats (rows + bbox) are regenerated
    by the GeoParquet writer, so window pruning stays exact. Old files
    are NOT deleted — time travel to pre-compaction snapshots still
    reads them; reclaim space afterwards with ``expire_snapshots`` +
    ``remove_orphan_files``.

    Returns the new snapshot dict (no-op: returns the current one
    unchanged when fewer than two small files exist). At 10^12 pages
    this runs per table partition / time window; the rewrite itself is
    one pruned scan + one repartition write, no shuffle beyond the
    repartition."""
    s = snapshot(table)
    small = [f for f in s["files"] if f["rows"] < small_file_rows]
    if len(small) < 2:
        return s
    big = [f for f in s["files"] if f["rows"] >= small_file_rows]
    total = sum(f["rows"] for f in small)
    n_out = max(1, -(-total // target_file_rows))
    df = spark.read.parquet(*[os.path.join(table, f["path"])
                              for f in small]).repartition(n_out)
    sid = s["id"] + 1
    rewritten = _write_attempt(df, table, sid, s["geometry_col"], None)
    return _commit(table, s["id"], big + rewritten,
                   s["geometry_col"], "compact")


def expire_snapshots(table: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshot files (metadata
    only — the Iceberg ``expireSnapshots`` analog). Time travel to an
    expired id then raises; data files the expired snapshots referenced
    exclusively become orphans for ``remove_orphan_files``. Returns the
    expired ids, oldest first."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = _meta_dir(table)
    ids = sorted(int(f[5:-5]) for f in os.listdir(meta)
                 if f.startswith("snap-") and f.endswith(".json"))
    drop = ids[:-keep_last]
    for sid in drop:
        os.remove(_snap_path(table, sid))
    return drop


def orphan_files(table: str) -> list[str]:
    """Data files on disk that NO retained snapshot references —
    compacted-away rewrites after expiry, plus the staged attempts of
    lost commit races. Table-relative paths, sorted."""
    meta = _meta_dir(table)
    live = set()
    for f in os.listdir(meta):
        if f.startswith("snap-") and f.endswith(".json"):
            live.update(e["path"] for e in
                        snapshot(table, int(f[5:-5]))["files"])
    found = []
    data = os.path.join(table, "data")
    for root, _dirs, names in os.walk(data):
        for name in names:
            rel = os.path.relpath(os.path.join(root, name), table)
            if rel not in live:
                found.append(rel)
    return sorted(found)


def remove_orphan_files(table: str) -> list[str]:
    """Delete every orphan data file (and any emptied attempt
    directory). Safe by construction: a file referenced by ANY retained
    snapshot is never touched. Returns the deleted table-relative
    paths."""
    gone = orphan_files(table)
    for rel in gone:
        os.remove(os.path.join(table, rel))
    data = os.path.join(table, "data")
    for root, dirs, names in list(os.walk(data, topdown=False)):
        if root != data and not dirs and not names:
            os.rmdir(root)
    return gone
