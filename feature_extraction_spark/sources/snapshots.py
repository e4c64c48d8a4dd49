"""Snapshot-committed table format over parquet — Iceberg's commit/read
semantics without the runtime jar.

BASELINE.json names Iceberg tables as the production substrate. No Iceberg
runtime jar exists in this offline sandbox and none is fetchable (verified:
no network, no local maven/ivy cache), so ``sources/io.py`` keeps the real
``format("iceberg")`` path behind catalog detection while THIS module
provides the property the north_rule actually depends on — *resume from the
last committed snapshot* — with Iceberg's mechanism:

  table/
    data/v<N>/part-*.parquet          one immutable data dir per snapshot
    metadata/v<N>.manifest.json       explicit file list + rows/bytes + info
    metadata/v<N>.commit              commit marker: THE commit point
    metadata/VERSION                  human-readable cache of the latest

Commit protocol (all IO via the Hadoop FS API — file://, hdfs://, s3a://):
data files -> manifest -> commit MARKER (atomic one-shot file create — the
commit point) -> VERSION cache refresh (best-effort). Readers resolve
max(committed marker) -> manifest -> explicit file list, and the manifest
IS the scan's file source: a failed or in-flight write is never visible,
and stray files in the data dir are never read (reference analog: the ad
hoc per-id CSV checkpoints + job_num sharding of
extract_timing_features.py:179-190). A marker per version (rather than
swapping one mutable pointer file) means no crash window can lose the
committed-version record: delete-then-rename of a single VERSION file
would leave the table apparently empty — and the NEXT commit restarting
at v1 over live data — if the writer died between the two operations.

The manifest doubles as S2's file-list source (SURVEY §2: manifest-driven
scan) and carries per-snapshot lineage metrics for the engine.

SINGLE-WRITER assumption (like Hadoop output committers, unlike Iceberg's
catalog CAS): two concurrent committers can both compute the same next
version and race the marker/data writes for it — readers still only ever
see one complete snapshot, but one writer's commit is silently lost.
Serialize writers per table (the engine's checkpoint steps already do); a
real multi-writer deployment needs the Iceberg/catalog path in
sources/io.py.
"""

from __future__ import annotations

import json
import posixpath
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from feature_extraction_spark.fsutil import (
    fs_exists as _fs_exists,
    fs_list_parquet as _fs_list_parquet,
    fs_read_text as _fs_read_text,
    fs_write_text as _fs_write_text,
    hadoop_fs as _hadoop_fs,
)

_obs_counter = [0]


@dataclass
class SnapshotInfo:
    version: int
    files: list[str]  # fully-qualified data file paths
    rows: int
    bytes: int
    wall_s: float
    parent: int | None


def _meta_dir(table: str) -> str:
    return posixpath.join(table, "metadata")


def _pointer_path(table: str) -> str:
    return posixpath.join(_meta_dir(table), "VERSION")


def _manifest_path(table: str, version: int) -> str:
    return posixpath.join(_meta_dir(table), f"v{version}.manifest.json")


def _marker_path(table: str, version: int) -> str:
    return posixpath.join(_meta_dir(table), f"v{version}.commit")


def _committed_versions(spark: SparkSession, table: str) -> list[int]:
    meta = _meta_dir(table)
    if not _fs_exists(spark, meta):
        return []
    fs, jpath = _hadoop_fs(spark, meta)
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".commit"):
            out.append(int(name[1 : -len(".commit")]))
    return sorted(out)


def last_committed_version(spark: SparkSession, table: str) -> int | None:
    """The highest version with a commit marker, or None for an empty /
    never-committed table (a crashed job that wrote data or even a manifest
    but no marker leaves the table at its previous version). The markers —
    not the VERSION cache file — are authoritative: a one-shot file create
    has no crash window, where a mutable-pointer swap does."""
    versions = _committed_versions(spark, table)
    return versions[-1] if versions else None


def read_manifest(spark: SparkSession, table: str, version: int) -> dict:
    return json.loads(_fs_read_text(spark, _manifest_path(table, version)))


def commit_snapshot(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    extra_meta: dict | None = None,
) -> SnapshotInfo:
    """Write ``df`` as the table's next snapshot and commit it.

    mode='overwrite': the new snapshot's manifest lists only the new files.
    mode='append': it lists the parent snapshot's files plus the new ones
    (data dirs are immutable, so append never rewrites existing data).
    The pointer swap is the commit point — readers either see the previous
    snapshot or the complete new one, never a partial write.

    ``extra_meta`` adds caller keys to the manifest (e.g. the streaming
    feature store records the micro-batch id for replay idempotency); keys
    must not collide with the manifest's own.
    """
    if mode not in ("overwrite", "append"):
        # validate BEFORE the (possibly hours-long) data write
        raise ValueError(f"unknown snapshot mode: {mode}")
    _RESERVED = {"version", "parent", "mode", "rows", "new_rows", "bytes",
                 "files", "wall_s"}
    if extra_meta and _RESERVED & extra_meta.keys():
        raise ValueError(f"extra_meta collides with manifest keys: "
                         f"{sorted(_RESERVED & extra_meta.keys())}")
    spark = df.sparkSession
    t0 = time.monotonic()
    parent = last_committed_version(spark, table)
    version = (parent or 0) + 1
    data_dir = posixpath.join(table, "data", f"v{version}")

    _obs_counter[0] += 1
    obs = Observation(f"snap_rows_{version}_{_obs_counter[0]}")
    out = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    out.write.mode("overwrite").parquet(data_dir)
    rows = int(obs.get["rows"])

    new_files = [
        (posixpath.join(data_dir, name), size)
        for name, size in _fs_list_parquet(spark, data_dir)
    ]
    files = list(new_files)
    prev_rows = 0
    if mode == "append" and parent is not None:
        prev = read_manifest(spark, table, parent)
        files = [(f["path"], f["bytes"]) for f in prev["files"]] + files
        prev_rows = int(prev["rows"])

    wall = time.monotonic() - t0
    manifest = {
        "version": version,
        "parent": parent,
        "mode": mode,
        "rows": rows + prev_rows,
        "new_rows": rows,
        "bytes": sum(b for _, b in files),
        "files": [{"path": p, "bytes": b} for p, b in files],
        "wall_s": round(wall, 3),
        **(extra_meta or {}),
    }
    _fs_write_text(spark, _manifest_path(table, version), json.dumps(manifest))

    # THE commit point: one-shot creation of the per-version marker — a new
    # filename, so there is no delete/rename window in which a crash could
    # lose the committed-version record
    _fs_write_text(spark, _marker_path(table, version), str(version))

    # best-effort refresh of the human-readable VERSION cache (markers are
    # authoritative; a crash here affects nothing)
    try:
        ptr = _pointer_path(table)
        tmp = ptr + f".tmp.v{version}"
        _fs_write_text(spark, tmp, str(version))
        fs, jptr = _hadoop_fs(spark, ptr)
        if fs.exists(jptr):
            fs.delete(jptr, False)
        _, jtmp = _hadoop_fs(spark, tmp)
        fs.rename(jtmp, jptr)
    except Exception:
        pass

    return SnapshotInfo(
        version,
        [p for p, _ in files],
        manifest["rows"],
        manifest["bytes"],
        wall,
        parent,
    )


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Manifest-driven scan of a committed snapshot (default: latest).
    The explicit file list is the source of truth — uncommitted or stray
    files under data/ are invisible. ``version`` gives time travel."""
    v = version if version is not None else last_committed_version(spark, table)
    if v is None:
        raise FileNotFoundError(f"no committed snapshot in {table}")
    if version is not None and not _fs_exists(spark, _marker_path(table, v)):
        # a manifest without its marker is a crashed in-flight write
        raise FileNotFoundError(f"snapshot v{v} of {table} was never committed")
    manifest = read_manifest(spark, table, v)
    paths = [f["path"] for f in manifest["files"]]
    if not paths:
        raise FileNotFoundError(f"snapshot v{v} of {table} lists no files")
    return spark.read.parquet(*paths)


def expire_snapshots(
    spark: SparkSession, table: str, keep_last: int = 2
) -> dict:
    """Delete data + metadata of committed snapshots older than the newest
    ``keep_last`` — the Iceberg ``expire_snapshots`` analog, and the
    retention half of the always-on streaming feature store (which
    otherwise overwrite-commits a full state copy per micro-batch and
    grows as batches x |state| forever).

    Safety rules:
    - never touches retained or uncommitted (in-flight) versions;
    - a data directory is only removed when NO retained manifest
      references a file under it (``mode='append'`` manifests list their
      parent's files, so an old version's data can outlive its manifest);
    - the marker is deleted FIRST: a crash mid-expire leaves unreferenced
      data files (wasted space, invisible to manifest-driven readers),
      never a committed version with missing data.

    Time travel to an expired version raises, by design. Returns
    ``{"expired": [...], "kept": [...], "deleted_bytes": N}``."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    committed = _committed_versions(spark, table)
    kept = committed[-keep_last:]
    expired = committed[: -keep_last] if len(committed) > keep_last else []
    if not expired:
        return {"expired": [], "kept": kept, "deleted_bytes": 0}

    referenced_dirs = set()
    for v in kept:
        for f in read_manifest(spark, table, v)["files"]:
            referenced_dirs.add(posixpath.dirname(f["path"]))

    deleted_bytes = 0
    for v in expired:
        man = read_manifest(spark, table, v)
        # commit marker first (see docstring), then manifest, then data
        for p in (_marker_path(table, v), _manifest_path(table, v)):
            fs, jp = _hadoop_fs(spark, p)
            if fs.exists(jp):
                fs.delete(jp, False)
        data_dir = posixpath.join(table, "data", f"v{v}")
        # normalize both sides through the FS so scheme differences
        # (file:/ vs bare path) cannot fake "unreferenced"
        fs, jdir = _hadoop_fs(spark, data_dir)
        qualified = fs.makeQualified(jdir).toString()
        ref_ok = not any(
            fs.makeQualified(_hadoop_fs(spark, d)[1]).toString() == qualified
            for d in referenced_dirs
        )
        if ref_ok and fs.exists(jdir):
            deleted_bytes += sum(
                f["bytes"] for f in man["files"]
                if posixpath.dirname(f["path"]) == data_dir
            )
            fs.delete(jdir, True)
    return {"expired": expired, "kept": kept, "deleted_bytes": deleted_bytes}


def materialize(
    df: DataFrame,
    checkpoint_dir: str | None = None,
    name: str = "materialized",
    keep_last: int = 2,
) -> DataFrame:
    """Materialize ``df`` once and truncate its lineage.

    Default (``checkpoint_dir=None``): ``localCheckpoint(eager=True)`` —
    fastest, but the blocks are pinned to executor memory/disk and are NOT
    recomputable: losing an executor mid-job fails every downstream stage.
    The right trade single-box or for short-lived intermediates.

    With ``checkpoint_dir``: the rows are committed as the next version of
    the snapshot table ``{checkpoint_dir}/{name}`` (reliable shared
    storage, atomic marker commit) and read back as a plain parquet scan
    of exactly the committed files — survives executor loss, restartable
    (the committed candidate set is time-travelable input for a resumed
    job), and superseded versions beyond ``keep_last`` are expired so an
    iterative caller does not grow storage per round."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    table = posixpath.join(checkpoint_dir, name)
    info = commit_snapshot(df, table)
    expire_snapshots(df.sparkSession, table, keep_last=keep_last)
    return read_snapshot(df.sparkSession, table, version=info.version)
