"""Snapshot repositories: content-addressed, incremental index snapshots.

The reference's snapshot stack is a filesystem blob-store repository
(`server/src/main/java/org/opensearch/repositories/fs/FsRepository.java`)
over the generic incremental machinery in
`repositories/blobstore/BlobStoreRepository.java`: a snapshot records the
set of segment files the commit point references, uploads only the files
the repository does not already hold (unchanged segments are *reused*
across snapshots), and restore materializes the manifest back into an
index directory.  Deleting a snapshot garbage-collects blobs no surviving
snapshot references (`BlobStoreRepository#cleanup`).

This module is the Spark-native analogue over this engine's on-disk index
dataset (meta.json + docs/postings/stats parquet generations + packed
segments).  Files are content-addressed by sha256, so the incremental
property falls out for free: an `add_generation` between two snapshots
re-uploads only the new generation's parquet files — the reference's
"segment reuse", with immutable parquet parts playing the role of
immutable Lucene segment files.

Scale shape: the manifest walk and hashing are O(files in one index), and
each file is hashed/copied independently, so with `spark=` the copy fans
out as one task per file (`sc.parallelize(files)`) — on a real deployment
where the repository is object storage this is exactly the reference's
parallel `SnapshotShardsService` upload, and the driver touches only the
file *list*, never the bytes.  Blob writes are idempotent
(tmp-file + atomic rename keyed by content hash), so task retries and
concurrent snapshots of identical files are safe.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from sparksearch.build import read_meta

__all__ = [
    "create_snapshot", "restore_snapshot", "list_snapshots",
    "delete_snapshot", "verify_repository", "mount_snapshot",
]

_BLOBS = "blobs"
_SNAPS = "snapshots"
_CHUNK = 1 << 20


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(_CHUNK)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def _blob_path(repo_dir: str, digest: str) -> str:
    return os.path.join(repo_dir, _BLOBS, digest[:2], digest)


def _put_blob(repo_dir: str, src: str, digest: str) -> bool:
    """Copy src into the blob store; returns True if bytes moved (False =
    already present, the incremental reuse path).  Atomic + idempotent:
    writes to a unique tmp name then os.replace, so concurrent writers of
    the same content-hash race benignly."""
    dst = _blob_path(repo_dir, digest)
    if os.path.exists(dst):
        return False
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tmp = f"{dst}.tmp.{os.getpid()}.{id(src) & 0xffff}"
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)
    return True


class _repo_lock:
    """Advisory single-writer lock on the repository (O_CREAT|O_EXCL on
    <repo>/.lock).  The reference serializes snapshot create/delete
    through the cluster state's repository generation
    (BlobStoreRepository#latestIndexBlobId); a filesystem repo gets the
    same invariant from this lock: a delete's GC can no longer collect
    blobs an in-flight create uploaded before its manifest committed.
    Stale locks (holder died) are broken after ``stale_s``."""

    def __init__(self, repo_dir: str, timeout_s: float = 30.0,
                 stale_s: float = 300.0):
        self.path = os.path.join(repo_dir, ".lock")
        self.timeout_s = timeout_s
        self.stale_s = stale_s

    def __enter__(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        deadline = time.time() + self.timeout_s
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(self.path) \
                            > self.stale_s:
                        os.remove(self.path)  # break a dead holder's lock
                        continue
                except OSError:
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"repository {self.path} is locked by another "
                        f"writer (single-writer invariant)")
                time.sleep(0.05)

    def __exit__(self, *exc):
        try:
            os.remove(self.path)
        except OSError:
            pass


def _index_files(index_dir: str) -> list[str]:
    """Relative paths of every committed index file.  Hadoop's hidden
    `.crc` / `._SUCCESS.crc` shadow files are excluded, like the
    reference snapshots only the files the commit point references — the
    local-FS checksums are regenerated on the restored copy's first
    write, and a restored read never consults a missing .crc."""
    out = []
    for root, _dirs, files in os.walk(index_dir):
        for f in files:
            if f.startswith("."):
                continue
            out.append(os.path.relpath(os.path.join(root, f), index_dir))
    return sorted(out)


def _manifest_path(repo_dir: str, name: str) -> str:
    return os.path.join(repo_dir, _SNAPS, f"{name}.json")


def create_snapshot(index_dir: str, repo_dir: str, name: str,
                    spark=None, ts: float | None = None) -> dict:
    """Snapshot the committed index under ``index_dir`` into ``repo_dir``.

    Returns the manifest dict, whose ``metrics`` block reports
    ``copied_bytes`` vs ``reused_bytes`` — the second and later snapshots
    of a growing index copy only the delta (incremental, like
    BlobStoreRepository file reuse).  With ``spark`` the hash+copy work
    runs as one Spark task per file; otherwise it runs driver-side.
    """
    if not name or "/" in name or name.startswith("."):
        # InvalidSnapshotNameException analogue
        raise ValueError(f"invalid snapshot name {name!r}")
    if os.path.exists(_manifest_path(repo_dir, name)):
        raise ValueError(f"snapshot {name!r} already exists in {repo_dir}")
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        raise FileNotFoundError(f"{index_dir} has no meta.json commit")
    meta = read_meta(index_dir)

    rels = _index_files(index_dir)
    os.makedirs(os.path.join(repo_dir, _SNAPS), exist_ok=True)
    os.makedirs(os.path.join(repo_dir, _BLOBS), exist_ok=True)
    with _repo_lock(repo_dir):
        return _create_locked(index_dir, repo_dir, name, spark, ts, meta,
                              rels)


def _create_locked(index_dir, repo_dir, name, spark, ts, meta, rels):
    if spark is not None:
        ix_dir, rp_dir = index_dir, repo_dir  # rebind for the closure

        def _one(rel: str) -> tuple[str, str, int, bool]:
            src = os.path.join(ix_dir, rel)
            digest = _sha256(src)
            copied = _put_blob(rp_dir, src, digest)
            return rel, digest, os.path.getsize(src), copied

        sc = spark.sparkContext
        entries = sc.parallelize(rels, max(1, len(rels))).map(_one).collect()
        entries.sort()
    else:
        entries = []
        for rel in rels:
            src = os.path.join(index_dir, rel)
            digest = _sha256(src)
            copied = _put_blob(repo_dir, src, digest)
            entries.append((rel, digest, os.path.getsize(src), copied))

    copied_bytes = sum(sz for _r, _d, sz, c in entries if c)
    manifest = {
        "name": name,
        "ts": time.time() if ts is None else ts,
        "index_meta": meta,
        "files": [{"path": r, "sha256": d, "size": sz}
                  for r, d, sz, _c in entries],
        "metrics": {
            "n_files": len(entries),
            "total_bytes": sum(sz for _r, _d, sz, _c in entries),
            "copied_bytes": copied_bytes,
            "reused_bytes": sum(sz for _r, _d, sz, c in entries if not c),
            "copied_files": sum(1 for e in entries if e[3]),
        },
    }
    mpath = _manifest_path(repo_dir, name)
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, mpath)  # atomic commit — a crash leaves no half snapshot
    return manifest


def list_snapshots(repo_dir: str) -> list[dict]:
    """_cat/snapshots analogue: name, ts, file/byte counts per snapshot."""
    sdir = os.path.join(repo_dir, _SNAPS)
    if not os.path.isdir(sdir):
        return []
    out = []
    for fn in sorted(os.listdir(sdir)):
        if not fn.endswith(".json"):
            continue
        with open(os.path.join(sdir, fn)) as f:
            m = json.load(f)
        out.append({"name": m["name"], "ts": m["ts"], **m["metrics"]})
    return out


def restore_snapshot(repo_dir: str, name: str, dest_dir: str,
                     spark=None, verify: bool = True,
                     link: bool = False) -> dict:
    """Materialize snapshot ``name`` into ``dest_dir`` (must not already
    contain an index).  With ``verify`` every restored file is re-hashed
    against the manifest, so blob-store corruption fails the restore
    instead of producing a silently-wrong index.

    ``link=True`` hardlinks blobs instead of copying — a zero-copy
    restore (falls back to copy across filesystems).  Safe because both
    the blob store and the index dataset are immutable-once-written;
    deleting the snapshot later leaves the linked index intact (the
    inode survives until its last link goes)."""
    mpath = _manifest_path(repo_dir, name)
    if not os.path.exists(mpath):
        raise FileNotFoundError(f"no snapshot {name!r} in {repo_dir}")
    if os.path.exists(os.path.join(dest_dir, "meta.json")):
        raise ValueError(f"{dest_dir} already holds an index commit")
    with open(mpath) as f:
        manifest = json.load(f)

    def _one(e: dict) -> str:
        blob = _blob_path(repo_dir, e["sha256"])
        dst = os.path.join(dest_dir, e["path"])
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if verify and _sha256(blob) != e["sha256"]:
            raise IOError(
                f"blob {e['sha256'][:12]} for {e['path']} is corrupt")
        if link:
            try:
                os.link(blob, dst)
                return e["path"]
            except OSError:
                pass  # cross-device — fall through to copy
        shutil.copyfile(blob, dst)
        return e["path"]

    files = manifest["files"]
    if spark is not None:
        sc = spark.sparkContext
        sc.parallelize(files, max(1, len(files))).foreach(_one)
    else:
        for e in files:
            _one(e)
    return manifest


def mount_snapshot(repo_dir: str, name: str, spark, mount_dir: str):
    """Searchable snapshot: open an IndexReader directly off the
    repository without copying index bytes.  The reference's
    searchable-snapshots feature queries a snapshot in remote storage
    through a block-fetching directory
    (`server/src/main/java/org/opensearch/index/store/remote/file/OnDemandBlockSnapshotIndexInput.java`);
    here the analogue is a hardlink mount — the parquet scan reads the
    repository's own blobs, and Spark's scan pruning plays the role of
    on-demand block fetch (only the buckets/row-groups a query touches
    are ever read).  ``mount_dir`` holds only directory entries, not
    data."""
    restore_snapshot(repo_dir, name, mount_dir, verify=False, link=True)
    from sparksearch.index import IndexReader
    return IndexReader(spark, mount_dir)


def delete_snapshot(repo_dir: str, name: str, gc: bool = True) -> dict:
    """Drop a snapshot; with ``gc`` remove blobs no surviving manifest
    references (BlobStoreRepository#cleanup).  Runs under the repository
    single-writer lock so GC cannot collect blobs an in-flight
    create_snapshot uploaded before its manifest committed; in-flight
    tmp blobs ('<digest>.tmp.<pid>.<n>') are also skipped."""
    with _repo_lock(repo_dir):
        mpath = _manifest_path(repo_dir, name)
        if not os.path.exists(mpath):
            raise FileNotFoundError(f"no snapshot {name!r} in {repo_dir}")
        os.remove(mpath)
        removed = 0
        freed = 0
        if gc:
            live: set[str] = set()
            for snap in list_snapshots(repo_dir):
                with open(_manifest_path(repo_dir, snap["name"])) as f:
                    live.update(e["sha256"] for e in json.load(f)["files"])
            bdir = os.path.join(repo_dir, _BLOBS)
            for root, _dirs, files in os.walk(bdir):
                for fn in files:
                    if fn not in live and ".tmp" not in fn:
                        p = os.path.join(root, fn)
                        freed += os.path.getsize(p)
                        os.remove(p)
                        removed += 1
    return {"deleted": name, "blobs_removed": removed, "bytes_freed": freed}


def verify_repository(repo_dir: str) -> dict:
    """_snapshot/<repo>/_verify analogue: re-hash every live blob."""
    bad = []
    n = 0
    for snap in list_snapshots(repo_dir):
        with open(_manifest_path(repo_dir, snap["name"])) as f:
            for e in json.load(f)["files"]:
                n += 1
                blob = _blob_path(repo_dir, e["sha256"])
                if not os.path.exists(blob) or _sha256(blob) != e["sha256"]:
                    bad.append({"snapshot": snap["name"], **e})
    return {"blobs_checked": n, "corrupt": bad}
