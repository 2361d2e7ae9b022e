"""Per-document term vectors — the Lucene ``TermVectorsReader`` analog.

``term_vectors`` returns one document's (term, tf, positions) for an
indexed field, reconstructed FROM THE INVERTED INDEX (the reference
delegates term vectors to Lucene's .tvd/.tvf files via its pinned Lucene
10.2.0 build — ``pom.xml:42-43``; we serve the same read API without a
separate forward store, the way Lucene's ``CheckIndex -crossCheckTermVectors``
re-derives vectors from postings).

Plan shape at scale: a (doc, term) posting lives in exactly ONE block
(one salt, one segment), and every postings row carries
``(first_doc, last_doc)`` — so the scan pushes
``first_doc <= doc_id <= last_doc`` down to the parquet reader and prunes
whole row groups / files on footer min-max stats; only the handful of
blocks whose doc range straddles the target docID are decoded (an
Arrow-batched kernel, no per-row Python). No shuffle: block rows map
straight to output rows, and the result is ≤ one row per distinct term in
the doc. Cost is O(blocks overlapping one docID), independent of corpus
size — the columnar equivalent of Lucene seeking one doc's .tvd slice.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from cuvs_lucene_spark.codec import decode_block_doc_ids, unpack_u64_blocks
from cuvs_lucene_spark.query import IndexReader

TV_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("tf", LongType()),
        # comma-joined ascending within-doc token positions ("" when the
        # index was built without positions) — Lucene .prx order
        StructField("positions", StringType()),
    ]
)


def _make_tv_kernel(target_doc: int):
    """mapInPandas kernel: decode candidate blocks, keep postings of exactly
    ``target_doc``, emit (term, tf, positions). Occurrence slices are
    recovered from the block's flat position stream via within-block tf
    prefix sums (per-posting slice lengths ARE the tfs — build.py stores no
    extra offsets, mirroring Lucene's .prx)."""

    def tv(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids, counts = decode_block_doc_ids(
                pdf["first_doc"].to_numpy(), list(pdf["doc_gaps"])
            )
            hits = np.flatnonzero(doc_ids == target_doc)
            if not len(hits):
                continue
            starts = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=starts[1:])
            tfs, _ = unpack_u64_blocks(list(pdf["tfs"]))
            tfs64 = tfs.astype(np.int64)
            blk_of_post = np.repeat(np.arange(len(counts)), counts)
            pos_bufs = list(pdf["pos"])
            # b"" pos blobs = index built without positions (build.py)
            have_pos = any(len(b) for b in pos_bufs)
            if have_pos:
                pos_flat, pos_counts = unpack_u64_blocks(pos_bufs)
                # flat-position offset of each block, and each posting's
                # occurrence offset within its block (exclusive tf prefix)
                pos_block_start = np.zeros(len(counts) + 1, dtype=np.int64)
                np.cumsum(pos_counts, out=pos_block_start[1:])
            tf_prefix = np.zeros(len(tfs64) + 1, dtype=np.int64)
            np.cumsum(tfs64, out=tf_prefix[1:])
            terms = pdf["term"].to_numpy()
            out_t, out_f, out_p = [], [], []
            for i in hits:
                b = int(blk_of_post[i])
                out_t.append(terms[b])
                out_f.append(int(tfs64[i]))
                if have_pos:
                    prior = int(tf_prefix[i] - tf_prefix[starts[b]])
                    lo = int(pos_block_start[b]) + prior
                    out_p.append(
                        ",".join(
                            str(int(p))
                            for p in pos_flat[lo : lo + int(tfs64[i])]
                        )
                    )
                else:
                    out_p.append("")
            yield pd.DataFrame(
                {"term": out_t, "tf": out_f, "positions": out_p}
            )

    return tv


def term_vectors(
    spark: SparkSession,
    index_dir: str,
    conv_id: str,
    turn_idx: int,
    field: str | None = None,
    reader: IndexReader | None = None,
) -> DataFrame:
    """One document's term vector for one indexed field:
    (term, tf, positions) rows sorted by term — the
    ``IndexReader.termVectors().get(docID)`` analog, addressed by the
    stable (conv_id, turn_idx) key (the ordToDoc authority maps it to the
    docID). Raises KeyError for an unknown or tombstoned document — Lucene
    surfaces deleted docs' vectors until merge, but our public API is
    key-addressed and keys are the delete-by-term identity, so a deleted
    key is GONE from the read surface (same contract as search)."""
    from cuvs_lucene_spark.operators.deletes import read_delete_keys

    rd = reader or IndexReader(spark, index_dir)
    fld = rd.resolve_field(field)
    row = (
        rd.cat.read_doc_dim(spark)
        .where(
            (F.col("conv_id") == conv_id)
            & (F.col("turn_idx") == int(turn_idx))
        )
        .select("doc_id")
        .collect()
    )
    if not row:
        raise KeyError(
            f"no document with key ({conv_id!r}, {int(turn_idx)})"
        )
    doc = int(row[0][0])
    keys = read_delete_keys(spark, rd.cat)
    if keys is not None and (
        keys.where(
            (F.col("conv_id") == conv_id)
            & (F.col("turn_idx") == int(turn_idx))
        ).limit(1).count()
        > 0
    ):
        raise KeyError(
            f"document ({conv_id!r}, {int(turn_idx)}) is deleted"
        )
    post = (
        rd.cat.read_postings(spark)
        .where(
            (F.col("field") == fld)
            & (F.col("first_doc") <= F.lit(doc))
            & (F.col("last_doc") >= F.lit(doc))
        )
        .select("term", "first_doc", "doc_gaps", "tfs", "pos")
    )
    return post.mapInPandas(_make_tv_kernel(doc), TV_SCHEMA).orderBy("term")
