"""Index catalog: on-disk layout, manifest, lineage (checkpoint-resume).

Plays the role of the reference's two-file meta+payload layout with versioned
headers and checksummed footers (``CuVS2510GPUVectorsFormat.java:39-42``,
``CuVS2510GPUVectorsWriter.java:154-165``): in our engine the "payload" is
parquet posting blocks partitioned by term bucket, and the "meta" is a JSON
manifest + small parquet side tables, with an atomically-moved manifest as
the snapshot pointer — the same commit protocol shape (write data → write
meta → atomic pointer swap, cf. ``finish()`` end-marker at
``CuVS2510GPUVectorsWriter.java:521-537``). ``index_dir`` may be a local
path or any filesystem URI both Spark and pyarrow.fs resolve (``file://``,
``hdfs://``, ``s3://``): tables go through Spark's Hadoop FS layer and the
manifest/side-files through :mod:`cuvs_lucene_spark.sources.fs`, so the
same index works on a laptop and against a 1000-executor object store.

Layout:
    <index_dir>/manifest.json                      # snapshot pointer (atomic rename)
    <index_dir>/commits/commit-v<NNNNNNNN>.json    # immutable per-version copies
    <index_dir>/seg=<sid>/doc_dim/                 # parquet
    <index_dir>/seg=<sid>/postings/bucket=<b>/     # parquet, hive-partitioned
    <index_dir>/seg=<sid>/dictionary/              # parquet (per-segment term stats)
    <index_dir>/deletes/batch-<uuid>/              # tombstone parquet (manifest-pinned)
    <index_dir>/lineage/                           # parquet append-only metric rows

Commit history (Lucene IndexCommit / SnapshotDeletionPolicy analog):
every manifest write ALSO lands an immutable copy under ``commits/`` before
the pointer swap, and the manifest itself carries the committed tombstone
file list (``delete_files``), so one atomic rename is the sole authority
for segments AND deletes. ``IndexCatalog(dir, version=N)`` pins a catalog
to a historical commit (point-in-time reads — segment dirs are immutable
and compaction never rewrites them in place, so old versions stay
readable until ``prune_commits`` + ``gc_segments`` reclaim them — the
IndexDeletionPolicy / IndexFileDeleter pair).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.sources import fs

MANIFEST = "manifest.json"
LOCK_NAME = "write.lock"

# On-disk format version + codec tag, embedded in the manifest at commit and
# asserted at read-open — the analog of the reference's versioned headers /
# CorruptIndexException checks (``CuVS2510GPUVectorsReader.java:143-166``,
# ``CuVS2510GPUVectorsFormat.java:39-42``). Bump INDEX_FORMAT_VERSION whenever
# manifest/table layout changes; CODEC_NAME names the postings wire format
# (cuvs_lucene_spark.codec pack_u64: 13-byte header + MSB FOR bit-packing).
INDEX_FORMAT_VERSION = 3  # v3: manifest-pinned tombstones + commit history
CODEC_NAME = "for128-msb-v1"

COMMITS_DIR = "commits"

# Driver-side cache of committed-table DataFrames (logical plans only — no
# data): see IndexCatalog._cached_df. Process-global like query.py's
# term-stats cache; keys embed the manifest commit identity so no commit can
# ever be served a stale file list.
_DF_CACHE: dict = {}
_DF_CACHE_MAX = 64


class CorruptIndexError(RuntimeError):
    """The index on disk fails a structural/version invariant."""


class LockObtainFailedError(RuntimeError):
    """Another writer holds the index write lock (Lucene
    LockObtainFailedException analog)."""

LINEAGE_SCHEMA = (
    "run_id string, segment_id int, bucket int, status string, "
    "docs_indexed long, postings_written long, bytes_compressed long, "
    "committed_at timestamp"
)


class IndexCatalog:
    """Index handle. ``version=None`` opens the live snapshot pointer;
    ``version=N`` pins every read to historical commit N (point-in-time /
    time-travel — Lucene ``DirectoryReader.open(IndexCommit)`` analog) and
    turns all mutators into hard errors."""

    def __init__(self, index_dir: str, version: int | None = None):
        self.index_dir = index_dir
        self.pinned_version = version
        fs.mkdirs(index_dir)

    def reopen(self) -> "IndexCatalog":
        """A fresh handle on the LIVE snapshot (openIfChanged support)."""
        return IndexCatalog(self.index_dir)

    def _assert_writable(self) -> None:
        if self.pinned_version is not None:
            raise RuntimeError(
                f"catalog is pinned to commit v{self.pinned_version}: read-only"
            )

    # -- paths ---------------------------------------------------------
    def seg_dir(self, sid: int) -> str:
        return fs.join(self.index_dir, f"seg={sid}")

    def doc_dim_path(self, sid: int) -> str:
        return fs.join(self.seg_dir(sid), "doc_dim")

    def postings_path(self, sid: int) -> str:
        return fs.join(self.seg_dir(sid), "postings")

    def dictionary_path(self, sid: int) -> str:
        return fs.join(self.seg_dir(sid), "dictionary")

    def lineage_path(self) -> str:
        return fs.join(self.index_dir, "lineage")

    def files_path(self, sid: int) -> str:
        return fs.join(self.seg_dir(sid), "files.json")

    # -- per-segment data-file enumeration (object-store commit protocol) --
    # Rename is not atomic on S3-class stores and Spark's dir-listing reads
    # would pick up orphan part-files left by dead/zombie attempts. Instead,
    # the COMMIT pins the exact data-file set: files.json (written atomically
    # before the manifest pointer swap) enumerates every parquet data file of
    # the segment, and the table readers consume ONLY the enumerated list —
    # the same write-data → write-file-list → swap-pointer shape as
    # Iceberg/Delta snapshots, and of the reference's finish() end-marker
    # commit (``CuVS2510GPUVectorsWriter.java:521-537``). Orphans on disk are
    # thereby invisible to readers of the three PINNED tables (doc_dim,
    # postings, dictionary). The tombstone table (operators/deletes.py) is
    # pinned by the MANIFEST itself (`delete_files`, committed in the same
    # atomic pointer swap per delete batch) — so a dead delete attempt's
    # partial part-file is equally invisible; every table a query touches
    # is file-list-committed.
    # Single-writer per index is the documented contract (Lucene IndexWriter
    # lock analog).

    _TABLE_DIRS = ("doc_dim", "postings", "dictionary")

    def _table_dir(self, sid: int, table: str) -> str:
        return fs.join(self.seg_dir(sid), table)

    @staticmethod
    def _is_data_file(rel: str) -> bool:
        base = rel.rsplit("/", 1)[-1]
        return base.endswith(".parquet") and not base.startswith(("_", "."))

    def record_segment_files(self, sid: int) -> dict:
        """Enumerate the segment's parquet data files into files.json.
        Called by the writer after all table writes and BEFORE the manifest
        commit — the listing is the committed snapshot of the segment."""
        self._assert_writable()
        listing = {}
        for table in self._TABLE_DIRS:
            listing[table] = [
                {"path": rel, "bytes": int(size)}
                for rel, size in sorted(fs.list_files_recursive(self._table_dir(sid, table)))
                if self._is_data_file(rel)
            ]
        fs.write_bytes_atomic(
            self.files_path(sid), json.dumps(listing, indent=1).encode()
        )
        return listing

    def check_files(self, seg_ids: list[int] | None = None) -> dict:
        """Deep file verification — the Lucene CheckIndex analog, fs-level.

        For every live (or requested) segment, re-stats each file the commit
        enumerated in files.json and confirms it exists with EXACTLY the
        recorded byte size (catches S3-class truncated/partial uploads and
        lost files before they surface as scan failures); also reports data
        files present on disk but NOT enumerated (orphans — ignored by
        readers, reclaimable). Raises CorruptIndexError on any missing or
        size-mismatched file; returns {segment: {"files": n, "bytes": total,
        "orphans": [...]}} on success."""
        m = self.read_manifest()
        ids = [s["id"] for s in m["segments"]]
        if seg_ids is not None:
            ids = [i for i in ids if i in set(seg_ids)]
        report: dict = {}
        for sid in ids:
            p = self.files_path(sid)
            if not fs.exists(p):
                raise CorruptIndexError(f"segment {sid}: missing file list {p}")
            listing = json.loads(fs.read_bytes(p))
            n, total, orphans = 0, 0, []
            for table in self._TABLE_DIRS:
                base = self._table_dir(sid, table)
                committed = {f["path"]: int(f["bytes"]) for f in listing.get(table, [])}
                on_disk = dict(fs.list_files_recursive(base)) if fs.isdir(base) else {}
                for rel, want in committed.items():
                    got = on_disk.get(rel)
                    if got is None:
                        raise CorruptIndexError(
                            f"segment {sid}: committed file missing: {table}/{rel}"
                        )
                    if int(got) != want:
                        raise CorruptIndexError(
                            f"segment {sid}: size mismatch {table}/{rel}: "
                            f"committed {want} bytes, on disk {got}"
                        )
                    n += 1
                    total += want
                orphans += [
                    f"{table}/{rel}"
                    for rel in on_disk
                    if rel not in committed and self._is_data_file(rel)
                ]
            report[sid] = {"files": n, "bytes": total, "orphans": orphans}
        return report

    def check_index(self) -> dict:
        """The complete CheckIndex analog: manifest open-time validation
        (format version, codec tag, table dirs, bucket layout) + deep file
        verification of every committed segment table + the tombstone
        ledger + the doc-values overlay. Raises CorruptIndexError/IOError on
        the first problem; returns {"segments": check_files report,
        "deletes": ledger report, "doc_values": dv ledger report}.
        """
        # lazy import: operators.deletes imports this module
        from cuvs_lucene_spark.operators.deletes import check_delete_files
        from cuvs_lucene_spark.operators.docvalues import check_dv_files

        self.validate_for_read()
        return {
            "segments": self.check_files(),
            "deletes": check_delete_files(self),
            "doc_values": check_dv_files(self),
        }

    def gc_orphans(
        self, grace_seconds: float = 24 * 3600, seg_ids: list[int] | None = None
    ) -> dict:
        """Reclaim orphan data files (present on disk, absent from the
        committed files.json — left by dead/zombie attempts; readers already
        ignore them). Safety window: only files whose mtime is older than
        ``grace_seconds`` are deleted — an in-flight concurrent attempt's
        fresh part-files survive; files with no reported mtime are kept
        (conservative). Returns {segment: {"deleted": [...], "kept": [...]}}.
        Analog of Lucene's IndexFileDeleter reclaiming unreferenced files."""
        self._assert_writable()
        import time as _time

        report = self.check_files(seg_ids)
        now = _time.time()
        out: dict = {}
        for sid, info in report.items():
            deleted, kept = [], []
            for orphan in info["orphans"]:
                path = fs.join(self.seg_dir(sid), orphan)
                mt = fs.mtime(path)
                if mt is not None and now - mt > grace_seconds:
                    fs.delete_file(path)
                    deleted.append(orphan)
                else:
                    kept.append(orphan)
            out[sid] = {"deleted": deleted, "kept": kept}
        return out

    def disk_usage(self) -> dict:
        """Committed-bytes accounting — the Lucene ``IndexDiskUsage`` tool /
        Luke overview analog, answering "what is this index spending its
        bytes on" per segment and per table (postings vs dictionary vs
        doc_dim), plus tombstone batches and commit-history metadata.

        Metadata-only: sizes come from each segment's committed files.json
        and the manifest's pinned tombstone entries — no data file is ever
        stat'd or read, so this is O(segments) driver work at any corpus
        size (use check_files for disk-truth verification). Orphan files are
        NOT counted (they are reclaimable, not index state — gc_orphans)."""
        m = self.read_manifest()
        segs: dict = {}
        total = 0
        for s in m["segments"]:
            sid = s["id"]
            p = self.files_path(sid)
            listing = json.loads(fs.read_bytes(p)) if fs.exists(p) else {}
            per = {}
            for table in self._TABLE_DIRS:
                ent = listing.get(table, [])
                b = sum(int(f["bytes"]) for f in ent)
                per[table] = {"files": len(ent), "bytes": b}
                total += b
            segs[sid] = {
                **per,
                "bytes": sum(t["bytes"] for t in per.values()),
                "doc_count": s.get("doc_count"),
            }
        del_ent = m.get("delete_files", [])
        del_bytes = sum(int(e["bytes"]) for e in del_ent)
        total += del_bytes
        commit_bytes = 0
        cdir = fs.join(self.index_dir, "commits")
        n_commits = 0
        if fs.isdir(cdir):
            for _rel, sz in fs.list_files_recursive(cdir):
                commit_bytes += sz
                n_commits += 1
        total += commit_bytes
        return {
            "segments": segs,
            "deletes": {"files": len(del_ent), "bytes": del_bytes},
            "commits": {"files": n_commits, "bytes": commit_bytes},
            "total_bytes": total,
        }

    def _data_files(self, sid: int, table: str) -> list[str] | None:
        """Committed file list for one segment table (absolute paths).

        A missing files.json is a hard CorruptIndexError — the format version
        that introduced file pinning also bumped INDEX_FORMAT_VERSION, so no
        readable index legitimately lacks it, and a silent dir-scan fallback
        would reintroduce the orphan-visibility hazard for callers that reach
        read_postings/read_doc_dim/read_dictionary without validate_for_read.
        Returns None (caller falls back to the table dir) only for the benign
        empty-listing case: a committed segment whose table produced zero
        data files (e.g. an empty-input build)."""
        p = self.files_path(sid)
        if not fs.exists(p):
            raise CorruptIndexError(
                f"segment {sid}: missing committed file list {p}"
            )
        listing = json.loads(fs.read_bytes(p))
        base = self._table_dir(sid, table)
        files = [fs.join(base, f["path"]) for f in listing.get(table, [])]
        return files or None

    # -- write lock (Lucene write.lock / LockFactory analog) --------------
    def _lock_path(self) -> str:
        return fs.join(self.index_dir, LOCK_NAME)

    def write_lock(self, timeout: float = 10.0, stale_after: float = 600.0):
        """Commit-scope mutual exclusion. Every manifest read-modify-write
        (commit_segment / replace_segments / delete commits / rollback)
        runs under this lock, turning the documented single-writer contract
        into an ENFORCED one: a second writer gets LockObtainFailedError
        after ``timeout`` seconds instead of silently losing an update.

        Semantics mirror Lucene's SimpleFSLockFactory: a lock file created
        atomically iff absent (true O_EXCL on local filesystems; best-effort
        exists+write+read-back on object stores, where Lucene's file locks
        are equally advisory). A lock older than ``stale_after`` seconds is
        presumed left by a crashed writer and broken — commits are
        sub-second, so a healthy holder never trips this. Data-file writes
        deliberately stay OUTSIDE the lock (uncommitted files are invisible
        to readers), so concurrent builders of DISTINCT segments serialize
        only their commits."""
        import contextlib
        import os as _os
        import socket as _socket
        import time as _time
        import uuid as _uuid

        cat = self

        @contextlib.contextmanager
        def _held():
            cat._assert_writable()
            token = json.dumps(
                {
                    "owner": _uuid.uuid4().hex,
                    "pid": _os.getpid(),
                    "host": _socket.gethostname(),
                    "acquired_at": _time.time(),
                }
            ).encode()
            deadline = _time.monotonic() + timeout
            while not fs.create_exclusive(cat._lock_path(), token):
                mt = fs.mtime(cat._lock_path())
                if (
                    stale_after
                    and mt is not None
                    and _time.time() - mt > stale_after
                ):
                    fs.delete_file(cat._lock_path())  # break a crashed writer's lock
                    continue
                if _time.monotonic() >= deadline:
                    raise LockObtainFailedError(
                        f"write lock held by another writer: {cat._lock_path()}"
                    )
                _time.sleep(0.05)
            try:
                yield
            finally:
                try:
                    # only the holder's own token is removed — never a lock a
                    # breaker re-acquired after declaring ours stale
                    if fs.read_bytes(cat._lock_path()) == token:
                        fs.delete_file(cat._lock_path())
                except (FileNotFoundError, OSError):
                    pass

        return _held()

    # -- manifest (snapshot pointer) ------------------------------------
    def commit_path(self, version: int) -> str:
        return fs.join(self.index_dir, COMMITS_DIR, f"commit-v{version:08d}.json")

    def read_manifest(self) -> dict:
        if self.pinned_version is not None:
            p = self.commit_path(self.pinned_version)
            if not fs.exists(p):
                raise CorruptIndexError(
                    f"commit v{self.pinned_version} does not exist (pruned, "
                    f"or never committed): {p}"
                )
            return json.loads(fs.read_bytes(p))
        p = fs.join(self.index_dir, MANIFEST)
        if not fs.exists(p):
            return {"segments": [], "version": 0, "delete_files": []}
        return json.loads(fs.read_bytes(p))

    def _write_manifest(self, m: dict) -> None:
        """Single commit point for EVERY index mutation (segment add,
        compaction, delete batch): bump the version counter, land an
        immutable copy under commits/ FIRST, then atomically swap the live
        pointer. A crash between the two leaves an orphan commit file that
        the next commit (same version number — single-writer contract)
        simply overwrites."""
        self._assert_writable()
        m["segments"].sort(key=lambda s: s["id"])
        m.setdefault("delete_files", [])
        m["version"] = m.get("version", 0) + 1
        m["committed_at"] = time.time()
        m["format_version"] = INDEX_FORMAT_VERSION
        m["codec"] = CODEC_NAME
        payload = json.dumps(m, indent=1).encode()
        fs.mkdirs(fs.join(self.index_dir, COMMITS_DIR))
        fs.write_bytes_atomic(self.commit_path(m["version"]), payload)
        fs.write_bytes_atomic(fs.join(self.index_dir, MANIFEST), payload)

    def commit_segment(self, seg_meta: dict) -> None:
        """Atomically add a segment to the manifest (idempotent by id)."""
        with self.write_lock():
            m = self.read_manifest()
            m["segments"] = [s for s in m["segments"] if s["id"] != seg_meta["id"]]
            m["segments"].append(seg_meta)
            self._write_manifest(m)

    def replace_segments(
        self, drop_ids: list[int], seg_meta: dict, clear_delete_files: bool = False
    ) -> None:
        """Compaction commit: swap merged-away segments for the new one.
        ``clear_delete_files=True`` (full compaction — tombstones physically
        purged from the rewrite) drops the tombstone list in the SAME atomic
        swap, so no reader can ever observe purged segments together with
        the now-stale tombstones."""
        with self.write_lock():
            m = self.read_manifest()
            m["segments"] = [s for s in m["segments"] if s["id"] not in drop_ids]
            m["segments"].append(seg_meta)
            if clear_delete_files:
                m["delete_files"] = []
            self._write_manifest(m)

    # -- tombstone file list (manifest-pinned; see operators/deletes.py) --
    def delete_files(self) -> list[dict]:
        """Committed tombstone entries [{path, bytes}] (relative to the
        deletes dir) of THIS catalog's snapshot — pinned catalogs see the
        tombstones as of their commit."""
        return self.read_manifest().get("delete_files", [])

    def set_delete_files(self, entries: list[dict]) -> None:
        """Commit a new tombstone file list (a delete batch is a first-class
        commit: new version, new immutable commit copy)."""
        with self.write_lock():
            m = self.read_manifest()
            m["delete_files"] = entries
            self._write_manifest(m)

    def append_delete_files(self, new_entries: list[dict]) -> None:
        """Append tombstone entries under the write lock — the whole
        read-modify-write is one critical section, so two racing delete
        batches cannot lose each other's entries."""
        with self.write_lock():
            m = self.read_manifest()
            m["delete_files"] = m.get("delete_files", []) + list(new_entries)
            self._write_manifest(m)

    # -- numeric doc-values overlay (manifest-pinned; operators/docvalues.py)
    def dv_files(self) -> list[dict]:
        """Committed DV-update entries [{path, bytes, field, seq}] (paths
        relative to the dv dir) of THIS catalog's snapshot — pinned catalogs
        see the doc-values state as of their commit."""
        return self.read_manifest().get("dv_files", [])

    def dv_fields(self) -> dict:
        """{dv_field: {"default": float}} for every field with committed
        updates in this snapshot."""
        return self.read_manifest().get("dv_fields", {})

    def append_dv_files(
        self, dv_field: str, default: float, new_entries: list[dict]
    ) -> int:
        """Append DV-update entries as a first-class commit. Each entry is
        stamped with the commit version it lands in (``seq``) — the
        last-write-wins authority (Lucene: highest dv generation wins).
        Returns the seq assigned. The field's default is recorded on first
        update and immutable afterwards."""
        with self.write_lock():
            m = self.read_manifest()
            m.setdefault("dv_fields", {}).setdefault(
                dv_field, {"default": float(default)}
            )
            seq = m.get("version", 0) + 1  # the version this commit lands as
            m["dv_files"] = m.get("dv_files", []) + [
                {**e, "field": dv_field, "seq": seq} for e in new_entries
            ]
            self._write_manifest(m)
        return seq

    def referenced_dv_paths(self) -> set[str]:
        """DV batch paths (relative to the dv dir) referenced by the live
        manifest or ANY retained commit — the reclaim fence for
        gc_orphan_dv (operators/docvalues.py)."""
        paths = {e["path"] for e in self.read_manifest().get("dv_files", [])}
        cdir = fs.join(self.index_dir, COMMITS_DIR)
        if fs.isdir(cdir):
            for e in fs.listdir(cdir):
                if e.startswith("commit-v") and e.endswith(".json"):
                    m = json.loads(fs.read_bytes(fs.join(cdir, e)))
                    paths |= {d["path"] for d in m.get("dv_files", [])}
        return paths

    # -- commit history (IndexCommit / SnapshotDeletionPolicy analog) ----
    def list_commits(self) -> list[dict]:
        """All retained commits, oldest first: [{version, committed_at,
        segment_ids, n_delete_files}]."""
        cdir = fs.join(self.index_dir, COMMITS_DIR)
        out = []
        if fs.isdir(cdir):
            for e in sorted(fs.listdir(cdir)):
                if e.startswith("commit-v") and e.endswith(".json"):
                    m = json.loads(fs.read_bytes(fs.join(cdir, e)))
                    out.append(
                        {
                            "version": m["version"],
                            "committed_at": m.get("committed_at"),
                            "segment_ids": [s["id"] for s in m["segments"]],
                            "n_delete_files": len(m.get("delete_files", [])),
                        }
                    )
        return sorted(out, key=lambda c: c["version"])

    def prune_commits(
        self, keep_last: int = 2, keep: tuple[int, ...] = ()
    ) -> list[int]:
        """Retention policy (IndexDeletionPolicy analog): drop all commit
        copies except the newest ``keep_last`` and any explicitly-held
        versions in ``keep`` (SnapshotDeletionPolicy holds). The LIVE
        version is always retained. Returns the pruned version numbers —
        data reclaim is the separate ``gc_segments``/``gc_orphan_deletes``
        step, exactly like Lucene's deletion-policy-then-IndexFileDeleter
        split."""
        self._assert_writable()
        live_v = self.read_manifest().get("version", 0)
        commits = self.list_commits()
        hold = set(keep) | {live_v}
        hold |= {c["version"] for c in commits[-max(int(keep_last), 0):]} if keep_last else set()
        pruned = []
        for c in commits:
            if c["version"] not in hold:
                fs.delete_file(self.commit_path(c["version"]))
                pruned.append(c["version"])
        return pruned

    def referenced_segment_ids(self) -> set[int]:
        """Segment ids referenced by the live manifest or ANY retained
        commit — the reclaim fence for gc_segments."""
        ids = {s["id"] for s in self.read_manifest()["segments"]}
        for c in self.list_commits():
            ids |= set(c["segment_ids"])
        return ids

    def rollback_to(self, version: int) -> dict:
        """Roll the LIVE index back to a retained commit — as a NEW commit
        whose segment set and tombstone list are those of commit ``version``
        (history stays linear; nothing is rewritten or lost — the abandoned
        commits remain readable until pruned). The Iceberg-rollback shape of
        Lucene's IndexWriter.rollback/commit-point reopen."""
        self._assert_writable()
        p = self.commit_path(version)
        if not fs.exists(p):
            raise CorruptIndexError(f"cannot roll back: commit v{version} not retained")
        old = json.loads(fs.read_bytes(p))
        with self.write_lock():
            m = self.read_manifest()
            m["segments"] = old["segments"]
            m["delete_files"] = old.get("delete_files", [])
            m["dv_files"] = old.get("dv_files", [])
            m["dv_fields"] = old.get("dv_fields", {})
            m["rolled_back_from"] = version
            self._write_manifest(m)
        return m

    def backup_files(self, include_lineage: bool = False) -> list[str]:
        """Snapshot-consistent hot-backup enumeration (the SnapshotDeletionPolicy
        use case): every file, as a path relative to index_dir, needed to
        restore THIS catalog's snapshot — its commit json, each live
        segment's files.json + the exact pinned data files, and the pinned
        tombstone batch files. Copy these anywhere (the writer may keep
        committing — all enumerated files are immutable), then restore with
        ``restore_backup``. Works on a pinned catalog to back up a
        historical commit."""
        m = self.read_manifest()
        out = [f"{COMMITS_DIR}/commit-v{m['version']:08d}.json"]
        for s in m["segments"]:
            sid = s["id"]
            out.append(f"seg={sid}/files.json")
            listing = json.loads(fs.read_bytes(self.files_path(sid)))
            for table in self._TABLE_DIRS:
                out += [f"seg={sid}/{table}/{f['path']}" for f in listing.get(table, [])]
        out += [f"deletes/{e['path']}" for e in m.get("delete_files", [])]
        out += [f"dv/{e['path']}" for e in m.get("dv_files", [])]
        if include_lineage and fs.isdir(self.lineage_path()):
            out += [
                f"lineage/{rel}"
                for rel, _sz in fs.list_files_recursive(self.lineage_path())
                if self._is_data_file(rel)
            ]
        return out

    @staticmethod
    def restore_backup(backup_dir: str) -> "IndexCatalog":
        """Make a copied ``backup_files`` tree a readable index: point
        manifest.json at the single commit the backup carries."""
        cdir = fs.join(backup_dir, COMMITS_DIR)
        commits = sorted(
            e for e in (fs.listdir(cdir) if fs.isdir(cdir) else [])
            if e.startswith("commit-v") and e.endswith(".json")
        )
        if len(commits) != 1:
            raise CorruptIndexError(
                f"backup at {backup_dir} must carry exactly one commit, "
                f"found {len(commits)}"
            )
        fs.write_bytes_atomic(
            fs.join(backup_dir, MANIFEST),
            fs.read_bytes(fs.join(cdir, commits[0])),
        )
        return IndexCatalog(backup_dir)

    def referenced_delete_paths(self) -> set[str]:
        """Tombstone file paths (relative to the deletes dir) referenced by
        the live manifest or ANY retained commit — the reclaim fence for
        gc_orphan_deletes (operators/deletes.py)."""
        paths = {e["path"] for e in self.read_manifest().get("delete_files", [])}
        cdir = fs.join(self.index_dir, COMMITS_DIR)
        if fs.isdir(cdir):
            for e in fs.listdir(cdir):
                if e.startswith("commit-v") and e.endswith(".json"):
                    m = json.loads(fs.read_bytes(fs.join(cdir, e)))
                    paths |= {d["path"] for d in m.get("delete_files", [])}
        return paths

    def gc_segments(self) -> list[int]:
        """Reclaim whole segment directories no retained commit references
        (left behind by compaction — readers of retained commits never
        touch them). IndexFileDeleter analog at segment granularity. Run
        AFTER prune_commits; returns the reclaimed segment ids."""
        self._assert_writable()
        referenced = self.referenced_segment_ids()
        removed = []
        for e in fs.listdir(self.index_dir):
            if e.startswith("seg="):
                try:
                    sid = int(e.split("=", 1)[1])
                except ValueError:
                    continue
                if sid not in referenced:
                    fs.delete_dir(fs.join(self.index_dir, e))
                    removed.append(sid)
        return sorted(removed)

    def validate_for_read(self) -> dict:
        """Open-time structural validation (CorruptIndexException analog).

        Asserts: manifest format version + codec tag are the ones this code
        reads; every live segment's postings/doc_dim/dictionary directories
        exist; each segment's bucket partition dirs are a subset of
        range(buckets) (a stray/renamed bucket dir means the term→bucket map
        no longer addresses the data). Raises CorruptIndexError. Cheap —
        directory metadata only, no data files are opened."""
        m = self.read_manifest()
        if not m["segments"]:
            return m
        fv = m.get("format_version")
        if fv != INDEX_FORMAT_VERSION:
            raise CorruptIndexError(
                f"index format version {fv!r} != supported {INDEX_FORMAT_VERSION}"
            )
        codec = m.get("codec")
        if codec != CODEC_NAME:
            raise CorruptIndexError(f"codec {codec!r} != supported {CODEC_NAME!r}")
        for s in m["segments"]:
            sid = s["id"]
            pdir = self.postings_path(sid)
            for d, what in [
                (pdir, "postings"),
                (self.doc_dim_path(sid), "doc_dim"),
                (self.dictionary_path(sid), "dictionary"),
            ]:
                if not fs.isdir(d):
                    raise CorruptIndexError(f"segment {sid}: missing {what} at {d}")
            if not fs.exists(self.files_path(sid)):
                raise CorruptIndexError(
                    f"segment {sid}: missing committed file list "
                    f"{self.files_path(sid)}"
                )
            seen = set()
            for e in fs.listdir(pdir):
                if e.startswith("bucket="):
                    try:
                        seen.add(int(e.split("=", 1)[1]))
                    except ValueError as ex:
                        raise CorruptIndexError(
                            f"segment {sid}: unparsable partition dir {e!r}"
                        ) from ex
            if not seen <= set(range(s["buckets"])):
                raise CorruptIndexError(
                    f"segment {sid}: bucket dirs {sorted(seen - set(range(s['buckets'])))} "
                    f"outside range({s['buckets']})"
                )
        return m

    def committed_segment_ids(self) -> set[int]:
        return {s["id"] for s in self.read_manifest()["segments"]}

    # -- global stats (IndexSearcher-level; SURVEY §4.3.2) ---------------
    def fields(self) -> list[str]:
        """Indexed fields (identical across segments by construction);
        fields[0] is the primary field."""
        segs = self.read_manifest()["segments"]
        return list(segs[0].get("fields", ["text"])) if segs else ["text"]

    def global_stats(self, field: str | None = None) -> tuple[int, int, float]:
        """(n_docs, sum_dl, avgdl) for one field, summed across live segments
        (Lucene CollectionStatistics: docCount + sumTotalTermFreq are
        per-field at IndexSearcher level). field=None → the primary field."""
        m = self.read_manifest()
        segs = m["segments"]
        if field is None or (segs and field == segs[0].get("fields", ["text"])[0]):
            n = sum(s["n_docs"] for s in segs)
            sdl = sum(s["sum_dl"] for s in segs)
        else:
            per = [s.get("field_stats", {}).get(field) for s in segs]
            if any(p is None for p in per):
                raise KeyError(f"field {field!r} not indexed in every segment")
            n = sum(p["n_docs"] for p in per)
            sdl = sum(p["sum_dl"] for p in per)
        return n, sdl, (sdl / n if n else 0.0)

    def next_doc_base(self) -> int:
        m = self.read_manifest()
        return sum(s["total_rows"] for s in m["segments"])

    # -- table readers ---------------------------------------------------
    def _cached_df(self, spark: SparkSession, table: str,
                   seg_ids: list[int] | None, build):
        """Snapshot-keyed driver-side DataFrame cache for the committed
        tables. ``spark.read.parquet`` pays a JVM file-listing + footer
        schema read EVERY call (~0.3 s/query measured at the bench tier for
        postings+doc_dim together) even though the committed file set of a
        snapshot is immutable by construction (files.json is written before
        the manifest pointer swap). Keyed by (Spark app, index dir, manifest
        version + commit time, segment selection), so any commit — append,
        delete-merge, compaction — produces a fresh entry and stale plans
        are unreachable; entries are plain logical plans (no cached data),
        bounded by _DF_CACHE_MAX with FIFO eviction. ``build(m)`` gets the
        manifest the key was made from, so a commit landing between the two
        can never file one version's files under another's key."""
        m = self.read_manifest()
        key = (
            spark.sparkContext.applicationId,
            self.index_dir,
            m.get("version"),
            m.get("committed_at"),
            table,
            None if seg_ids is None else tuple(sorted(seg_ids)),
        )
        if key not in _DF_CACHE:
            df = build(m)
            if len(_DF_CACHE) >= _DF_CACHE_MAX:
                _DF_CACHE.pop(next(iter(_DF_CACHE)))
            _DF_CACHE[key] = df
        return _DF_CACHE[key]

    @staticmethod
    def _live_ids(m: dict, seg_ids: list[int] | None) -> list[int]:
        live = [s["id"] for s in m["segments"]]
        if seg_ids is None:
            return live
        missing = set(seg_ids) - set(live)
        if missing:
            raise ValueError(f"not live segments: {sorted(missing)}")
        return list(seg_ids)

    def read_doc_dim(
        self, spark: SparkSession, seg_ids: list[int] | None = None
    ) -> DataFrame:
        def build(m: dict) -> DataFrame:
            paths: list[str] = []
            for i in self._live_ids(m, seg_ids):
                paths.extend(
                    self._data_files(i, "doc_dim") or [self.doc_dim_path(i)]
                )
            return spark.read.parquet(*paths)

        return self._cached_df(spark, "doc_dim", seg_ids, build)

    def read_postings(
        self, spark: SparkSession, seg_ids: list[int] | None = None
    ) -> DataFrame:
        # each segment is its own hive-partitioned (bucket=N) tree; reading
        # them in one call trips partition-discovery root conflicts — union
        # per-segment scans instead (bucket pruning still applies per scan).
        # basePath keeps the bucket partition column when reading the
        # committed explicit file list.
        from functools import reduce

        def build(m: dict) -> DataFrame:
            dfs = []
            for i in self._live_ids(m, seg_ids):
                p = self.postings_path(i)
                files = self._data_files(i, "postings") or [p]
                dfs.append(spark.read.option("basePath", p).parquet(*files))
            return reduce(DataFrame.unionByName, dfs)

        return self._cached_df(spark, "postings", seg_ids, build)

    def read_dictionary(self, spark: SparkSession) -> DataFrame:
        def build(m: dict) -> DataFrame:
            paths: list[str] = []
            for s in m["segments"]:
                paths.extend(
                    self._data_files(s["id"], "dictionary")
                    or [self.dictionary_path(s["id"])]
                )
            return spark.read.parquet(*paths)

        return self._cached_df(spark, "dictionary", None, build)

    # -- lineage ----------------------------------------------------------
    def append_lineage(self, spark: SparkSession, rows: list[tuple]) -> None:
        self._assert_writable()
        df = spark.createDataFrame(rows, LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.lineage_path())

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.lineage_path())
