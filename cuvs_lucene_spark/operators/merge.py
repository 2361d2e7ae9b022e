"""Merge / compaction — the Spark re-expression of mergeOneField (SURVEY.md §2.4).

Reference dispatcher (``CuVS2510GPUVectorsWriter.java:491-519``): fast-path
native merge iff >1 segments and no deletions, else rebuild from raw values.
Our postings blocks are self-contained — they carry (doc_id gaps, tf, dl_q)
with GLOBAL docIDs (baked in at build, the lesson of the reference's
merge-time id remap ``Lucene99AcceleratedHNSWVectorsWriter.java:352-366``) —
so the "rebuild" path never touches the source table: it decodes the live
blocks, drops tombstoned docs, and re-encodes through the exact same
partition encoder as the initial build. One distributed job, no driver-side
data movement.

Stats semantics after compaction match Lucene post-merge: deleted docs no
longer count in N/avgdl/df (before compaction they still do, as in Lucene —
see operators/deletes.py).

docIDs stay STABLE across compaction (deviation from the reference's dense
re-numbering at merge, ``MergedVectorValues`` at
``CuVS2510GPUVectorsWriter.java:438``): our doc_id is the global rank-tiebreak
authority, and renumbering would change tie-break order run-to-run; density
is not required anywhere in the engine.
"""

from __future__ import annotations

import datetime as _dt
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.codec import (
    BLOCK_SIZE,
    decode_block_doc_ids,
    unpack_u64_blocks,
)
from cuvs_lucene_spark.operators.build import bucket_col, encode_postings
from cuvs_lucene_spark.operators.deletes import deleted_doc_ids, has_deletes
from cuvs_lucene_spark.sources.catalog import IndexCatalog

DECODED_SCHEMA = "field string, term string, doc_id long, tf long, dl_q int"
DECODED_SCHEMA_POS = DECODED_SCHEMA + ", pos array<long>"


def _make_decode_kernel(positional: bool):
    def _decode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Posting block rows → flat (field, term, doc_id, tf, dl_q[, pos])
        rows (Arrow-batched, one unpackbits per width class via
        unpack_u64_blocks — no per-row loop; the per-posting position slices
        are numpy views)."""
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids, counts = decode_block_doc_ids(
                pdf["first_doc"].to_numpy(), list(pdf["doc_gaps"])
            )
            tfs, _ = unpack_u64_blocks(list(pdf["tfs"]))
            dlqs, _ = unpack_u64_blocks(list(pdf["dls"]))
            out = {
                "field": np.repeat(pdf["field"].to_numpy(), counts),
                "term": np.repeat(pdf["term"].to_numpy(), counts),
                "doc_id": doc_ids,
                "tf": tfs.astype(np.int64),
                "dl_q": dlqs.astype(np.int32),
            }
            if positional:
                pos_vals = unpack_u64_blocks(list(pdf["pos"]))[0].astype(np.int64)
                out["pos"] = np.split(pos_vals, np.cumsum(tfs)[:-1].astype(np.int64))
            yield pd.DataFrame(out)

    return _decode_kernel


def decode_postings(postings: DataFrame, positional: bool = False) -> DataFrame:
    """Decode block rows back to per-posting rows (the M3 'raw values' source).
    positional=True carries each posting's within-doc positions as an array
    column so compaction preserves the phrase payload."""
    cols = ["field", "term", "first_doc", "doc_gaps", "tfs", "dls"] + (
        ["pos"] if positional else []
    )
    return postings.select(*cols).mapInPandas(
        _make_decode_kernel(positional),
        DECODED_SCHEMA_POS if positional else DECODED_SCHEMA,
    )


def compact(
    spark: SparkSession,
    index_dir: str,
    *,
    salt_buckets: int = 8,
    hot_df_ratio: float = 0.05,
    block_size: int = BLOCK_SIZE,
    run_id: str | None = None,
    force: bool = False,
    segment_ids: list[int] | None = None,
) -> dict | None:
    """Merge live segments (and purge their tombstones) into one new segment.

    segment_ids=None merges EVERYTHING (forceMerge(1) analog) and clears the
    tombstone table; a subset merges only those segments (the primitive
    `tiered_compact` drives) — the global deletes table is kept, because
    tombstones may reference docs in unmerged segments (stale ids pointing
    into the merged-away segments are harmless: the anti-join just misses).

    Returns the new segment's manifest entry, or None if compaction was a
    no-op (single segment, no deletes, not forced) — the analog of the merge
    policy declining a merge (``TieredMergePolicy`` via ``TestMerge.java:231``).
    """
    cat = IndexCatalog(index_dir)
    m = cat.read_manifest()
    segs = m["segments"]
    if not segs:
        return None
    if segment_ids is not None:
        segs = [s for s in segs if s["id"] in set(segment_ids)]
        if len(segs) < 2:
            return None
    deletes = has_deletes(cat)
    if len(segs) == 1 and not deletes and not force:
        return None

    run_id = run_id or uuid.uuid4().hex[:12]
    old_ids = [s["id"] for s in segs]
    all_ids = [s["id"] for s in m["segments"]]
    subset = set(old_ids) != set(all_ids)
    new_id = max(all_ids) + 1
    buckets = segs[0]["buckets"]
    positional = bool(segs[0].get("positions", False))
    fields = tuple(segs[0].get("fields", ["text"]))
    analyzer = segs[0].get("analyzer", "standard")

    del_ids = deleted_doc_ids(spark, cat) if deletes else None

    # new doc_dim = union of the merged segments' doc_dims minus tombstones
    dd = cat.read_doc_dim(spark, seg_ids=old_ids)
    if del_ids is not None:
        dd = dd.join(F.broadcast(del_ids), "doc_id", "left_anti")
    dd = dd.persist()
    dl_col = {f: ("dl" if f == fields[0] else f"dl__{f}") for f in fields}
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for f in fields:
        aggs.append(
            F.sum(F.when(F.col(dl_col[f]) > 0, 1).otherwise(0)).alias(f"nd_{f}")
        )
        aggs.append(F.sum(dl_col[f]).alias(f"sd_{f}"))
    stats = dd.agg(*aggs).collect()[0]
    field_stats = {
        f: {"n_docs": int(stats[f"nd_{f}"] or 0), "sum_dl": int(stats[f"sd_{f}"] or 0)}
        for f in fields
    }
    n_docs = field_stats[fields[0]]["n_docs"]
    sum_dl = field_stats[fields[0]]["sum_dl"]
    avgdl = sum_dl / n_docs if n_docs else 1.0
    # range-cluster by (role, ts) — same filter-pruning layout as the build
    # path (build.cluster_doc_dim): filtered search prunes on footer stats
    from cuvs_lucene_spark.operators.build import DOC_DIM_CLUSTER_ROWS_PER_FILE

    _n_parts = max(
        1, min(32768, -(-max(1, int(stats["total_rows"])) // DOC_DIM_CLUSTER_ROWS_PER_FILE))
    )
    (
        dd.repartitionByRange(_n_parts, F.col("role"), F.col("ts"))
        .sortWithinPartitions("role", "ts")
        .write.mode("overwrite")
        .parquet(cat.doc_dim_path(new_id))
    )

    # live postings, decoded (blocks are self-contained: no source table read)
    tf = decode_postings(
        cat.read_postings(spark, seg_ids=old_ids), positional=positional
    )
    if del_ids is not None:
        tf = tf.join(F.broadcast(del_ids), "doc_id", "left_anti")

    # exact hot-term detection (compaction is offline; full-vocab agg is
    # fine). Counted across fields — the union over-salts slightly, which
    # only affects block layout, never correctness (same policy as build).
    hot_rows = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > F.lit(hot_df_ratio * n_docs))
        .select("term")
        .collect()
    )
    hot = sorted(r["term"] for r in hot_rows)
    salt_expr = (
        F.when(
            F.col("term").isin(hot),
            F.pmod(F.col("doc_id"), F.lit(salt_buckets)).cast("int"),
        ).otherwise(F.lit(0))
        if hot
        else F.lit(0).cast("int")
    )
    # crc32 bucket — identical to the flush kernel's zlib.crc32 so segments
    # built pre- and post-compaction agree on the term→bucket map
    salted = tf.withColumn("salt", salt_expr).withColumn(
        "bucket", bucket_col(F.col("term"), buckets)
    )

    blocks = encode_postings(spark, salted, buckets, block_size)
    blocks.write.mode("overwrite").partitionBy("bucket").parquet(
        cat.postings_path(new_id)
    )

    written = spark.read.parquet(cat.postings_path(new_id))
    written.groupBy("field", "term").agg(
        F.min("bucket").alias("bucket"),
        F.sum("doc_count").alias("df"),
        F.sum("cf").alias("cf"),
        F.count(F.lit(1)).alias("n_blocks"),
    ).write.mode("overwrite").parquet(cat.dictionary_path(new_id))

    per_bucket = (
        written.groupBy("bucket")
        .agg(F.sum("doc_count").alias("postings"), F.sum("n_bytes").alias("bytes"))
        .collect()
    )
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    cat.append_lineage(
        spark,
        [
            (run_id, new_id, int(r["bucket"]), "compacted", n_docs,
             int(r["postings"]), int(r["bytes"]), now)
            for r in per_bucket
        ],
    )

    seg_meta = {
        "id": new_id,
        "doc_base": 0,
        # preserve the docID high-water mark so future appended segments never
        # collide with retained (stable) doc_ids: the new segment carries the
        # merged segments' total_rows sum, keeping Σ total_rows invariant
        "total_rows": sum(s["total_rows"] for s in segs),
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl_local": avgdl,
        "buckets": buckets,
        "hot_terms": len(hot),
        "positions": positional,
        "fields": list(fields),
        # the analysis chain is per-index and MUST survive compaction: the
        # reader analyzes queries with segments[0]'s chain, so dropping it
        # here would silently re-analyze an "english" index as "standard"
        # after any compact (and build.py would propagate the loss to every
        # future appended segment)
        "analyzer": analyzer,
        "field_stats": field_stats,
        "run_id": run_id,
        "compacted_from": old_ids,
    }
    cat.record_segment_files(new_id)  # pin data files before the pointer swap
    # tombstones may still reference docs in unmerged segments, so only a
    # full compaction may clear the list — and it clears it in the SAME
    # atomic manifest swap as the segment replacement (no window where the
    # purged segment set is visible alongside stale tombstones)
    cat.replace_segments(old_ids, seg_meta, clear_delete_files=not subset)
    dd.unpersist()
    return seg_meta


def tiered_compact(
    spark: SparkSession,
    index_dir: str,
    max_segments: int = 10,
    **compact_kwargs,
) -> dict | None:
    """Merge policy (TieredMergePolicy analog, size-tiered flavor): when the
    index holds more than `max_segments` live segments, merge the SMALLEST
    (count − max_segments + 1) of them (by total_rows, id tie-break) into one
    — cost is proportional to the small tail, not the whole index, unlike
    `compact` which rewrites everything each trigger. Deterministic victim
    selection; returns the new segment's manifest entry or None (no-op)."""
    segs = IndexCatalog(index_dir).read_manifest()["segments"]
    if len(segs) <= max_segments:
        return None
    victims = sorted(segs, key=lambda s: (s["total_rows"], s["id"]))
    victim_ids = [s["id"] for s in victims[: len(segs) - max_segments + 1]]
    return compact(spark, index_dir, segment_ids=victim_ids, **compact_kwargs)
