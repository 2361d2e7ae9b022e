"""Delete handling — the liveDocs analog (SURVEY.md §2.5).

Reference semantics (``TestCuVSDeletedDocuments.java:69-132,213-255``):
deleted docs are masked at search time (liveDocs bitset) and physically
purged at merge; collection stats (df, avgdl) still include deleted docs
until the segments holding them are merged — we replicate exactly that:

  * ``delete_docs`` appends tombstone keys (conv_id, turn_idx) to a
    manifest-pinned deletes table (delete-by-term analog,
    ``TestCuVSDeletedDocuments.java:93``) — O(deletes) I/O, no index rewrite;
  * ``search`` anti-joins live results against the tombstones (D1);
  * ``compact`` (operators/merge.py) rewrites segments without the deleted
    postings and recomputes stats (the purge).

Commit protocol: the MANIFEST is the sole tombstone authority. Each
``delete_docs`` call writes its parquet parts into a fresh ``batch-<uuid>``
directory, then commits a new manifest whose ``delete_files`` list pins the
full tombstone file set — the same write-data → pin-file-list →
swap-pointer shape as the three segment tables (sources/catalog.py), and
now through the SAME pointer: a delete batch is a first-class index commit
(new version + immutable commit copy), so point-in-time readers see exactly
the tombstones of their pinned commit, and a full compaction clears
segments and tombstones in one atomic swap. Readers consume ONLY
manifest-listed files, so a dead or zombie delete attempt's partial
part-file is invisible (S3-class stores never see dir-scan reads).
Single-writer per index is the documented contract (Lucene IndexWriter
lock analog), so the read-modify-write of the manifest needs no
compare-and-swap.

Every function takes ``index_dir | IndexCatalog``: pass a pinned catalog
(``IndexCatalog(dir, version=N)``) for point-in-time tombstones; a plain
path reads the live snapshot.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.sources import fs
from cuvs_lucene_spark.sources.catalog import IndexCatalog

DELETES_SCHEMA = "conv_id string, turn_idx int, deleted_at timestamp"


def _as_cat(index: str | IndexCatalog) -> IndexCatalog:
    # non-str objects (IndexCatalog, MultiIndexCatalog) pass through
    return IndexCatalog(index) if isinstance(index, str) else index


def deletes_path(index_dir: str) -> str:
    return fs.join(index_dir, "deletes")


def has_deletes(index: str | IndexCatalog) -> bool:
    return bool(_as_cat(index).delete_files())


def delete_docs(spark: SparkSession, index: str | IndexCatalog, keys: DataFrame) -> int:
    """Commit tombstones for (conv_id, turn_idx) keys; returns #keys appended.

    Idempotent at read time (tombstones are deduped when applied), so
    re-committing the same keys after a retry is harmless. Crash-safe: the
    batch directory is written first and only becomes visible when the
    manifest commit (atomic temp+rename) lands.
    """
    cat = _as_cat(index)
    n = keys.count()
    if n == 0:
        return 0
    batch = f"batch-{uuid.uuid4().hex[:12]}"
    batch_dir = fs.join(deletes_path(cat.index_dir), batch)
    (
        keys.select("conv_id", F.col("turn_idx").cast("int"))
        .withColumn("deleted_at", F.current_timestamp())
        .coalesce(1)
        .write.mode("error")
        .parquet(batch_dir)
    )
    cat.append_delete_files(
        [
            {"path": fs.join(batch, rel), "bytes": size}
            for rel, size in fs.list_files_recursive(batch_dir)
            if rel.endswith(".parquet")
        ]
    )
    return int(n)


def read_delete_keys(
    spark: SparkSession, index: str | IndexCatalog
) -> DataFrame | None:
    cat = _as_cat(index)
    # federated MultiReader handles union their sub-indexes' tombstone keys
    # (keys are (conv_id, turn_idx) — index-independent)
    multi = getattr(cat, "multi_delete_keys", None)
    if multi is not None:
        return multi(spark)

    def build(m: dict) -> DataFrame | None:
        entries = m.get("delete_files", [])
        if not entries:
            return None
        base = deletes_path(cat.index_dir)
        return (
            spark.read.parquet(*[fs.join(base, e["path"]) for e in entries])
            .select("conv_id", "turn_idx")
            .dropDuplicates(["conv_id", "turn_idx"])
        )

    # one parquet read (and its schema-inference job) per snapshot, not
    # per query
    return cat._cached_df(spark, "delete_keys", None, build)


def deleted_doc_ids(
    spark: SparkSession, index: str | IndexCatalog
) -> DataFrame | None:
    """Tombstone keys → doc_ids via the doc_dim map (the ordToDoc authority).

    Deletes are assumed small relative to the corpus; the join broadcasts the
    tombstone side so this never shuffles doc_dim. With a pinned catalog both
    the tombstones AND the doc_dim snapshot are the pinned commit's.
    """
    cat = _as_cat(index)
    keys = read_delete_keys(spark, cat)
    if keys is None:
        return None
    dd = cat.read_doc_dim(spark)
    return dd.join(F.broadcast(keys), ["conv_id", "turn_idx"], "inner").select("doc_id")


def check_delete_files(index: str | IndexCatalog) -> dict:
    """CheckIndex-style verification of the tombstone table: every
    manifest-listed entry must exist with exactly the recorded byte size;
    batch files on disk referenced by NO retained commit are reported as
    orphans (left by dead delete attempts or cleared by compaction while
    older commits were pruned — invisible to readers, reclaimable)."""
    cat = _as_cat(index)
    base = deletes_path(cat.index_dir)
    entries = cat.delete_files()
    on_disk = dict(fs.list_files_recursive(base)) if fs.isdir(base) else {}
    for e in entries:
        got = on_disk.get(e["path"])
        if got is None:
            raise IOError(f"committed tombstone file missing on disk: {e['path']}")
        if got != e["bytes"]:
            raise IOError(
                f"tombstone file size mismatch {e['path']}: "
                f"committed {e['bytes']} vs disk {got}"
            )
    referenced = {e["path"] for e in entries} | cat.referenced_delete_paths()
    orphans = [
        rel
        for rel in on_disk
        if rel not in referenced
        and not rel.split("/")[-1].startswith(("_", "."))
    ]
    return {"files": len(entries), "orphans": orphans}


def gc_orphan_deletes(index: str | IndexCatalog) -> list[str]:
    """Reclaim tombstone part-files referenced by no retained commit (dead
    delete attempts, or batches cleared by compaction once the pre-compaction
    commits have been pruned). Run AFTER prune_commits."""
    cat = _as_cat(index)
    report = check_delete_files(cat)
    base = deletes_path(cat.index_dir)
    for rel in report["orphans"]:
        fs.delete_file(fs.join(base, rel))
    return report["orphans"]


def clear_deletes(index: str | IndexCatalog) -> None:
    """Drop the tombstone list from the live manifest (the physical batch
    files are reclaimed later by gc_orphan_deletes, because retained
    historical commits may still reference them). Prefer
    ``replace_segments(..., clear_delete_files=True)`` — compaction uses
    that to clear tombstones in the same atomic swap as the segment swap."""
    _as_cat(index).set_delete_files([])
