"""Index build pipeline — the Spark re-expression of flush (SURVEY.md §3.1).

Reference lifecycle: accumulate → flush per segment → serialize with
offsets/meta → commit (``CuVS2510GPUVectorsWriter.java:300-310,521-537``).
Spark re-expression — two-phase flush+merge (the reference's own per-segment
flush then segment-merge shape), one job with exactly ONE wide data shuffle
that carries COMPRESSED PARTIAL BLOCKS, never raw token rows:

  read transcripts
    → docID assignment from the sort keys only (sorted-scan probe) (no text)
    → per-partition FLUSH (mapInPandas): tokenize + build partial
      posting blocks for the partition's disjoint docID range AND
      side-write the partition's doc_dim slice (meta + dl + norms) (narrow)
    → repartition(bucket, salt [hot terms salted])                (THE shuffle)
    → per-partition MERGE (mapInPandas): concat each term's partials
      in first_doc order, re-block to 128                         (narrow)
    → write postings partitioned by bucket; global stats from the written
      doc_dim (column-pruned); dictionary + lineage from a cheap metadata
      re-scan of the written blocks.
  The corpus TEXT is read exactly ONCE (possible because block impacts are
  the avgdl-free pair (max_tf, min_dl_d)); every later aggregate reads only
  small derived columns.

Why flush+merge and not explode→shuffle→encode: the token stream is ~100x
the row count of the corpus; shuffling/sorting it in the JVM and shipping it
through Arrow is the single dominant, poorly-scaling cost (measured: of a
164 s encode stage at 16 cores, ~54 s was Arrow transfer and ~29 s JVM sort
of 124M rows, both nearly flat in core count). Flush keeps tokens inside one
Python kernel; the shuffle moves ~10-20x fewer bytes — on a real cluster
this is the difference between shuffling ~100 TB and shuffling ~5 TB.

Scale notes (100 TB / 10^12 turns):
  * hot-term detection is sample-based (deterministic seed) so no exact
    full-vocab aggregation sits on the critical path; the EXACT dictionary is
    derived afterwards from the written block metadata (tiny).
  * postings blocks store GLOBAL docIDs (doc_base baked in at build), the
    lesson of the reference's merge-time id remap
    (``Lucene99AcceleratedHNSWVectorsWriter.java:352-366``): merges then never
    rebase, they just re-block.
  * per-posting quantized norms travel INSIDE the block (1 byte/posting), so
    query-time scoring needs no join against a norms table.
"""

from __future__ import annotations

import datetime as _dt
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cuvs_lucene_spark.analysis import (
    BM25_B,
    BM25_K1,
    ENGLISH_STOP_WORDS,
    TOKEN_PATTERN,
    dequantize_dl_np,
    english_minimal_stem_np,
    quantize_dl_np,
    tokenize_col,
    with_quantized_dl,
)

# numpy-comparable form of the stop set for the flush kernel's isin
_ENGLISH_STOP_ARR = np.array(sorted(ENGLISH_STOP_WORDS), dtype="U")
from cuvs_lucene_spark.codec import (
    BLOCK_SIZE,
    decode_block_doc_ids,
    pack_u64_blocks,
    unpack_u64_blocks,
)
from cuvs_lucene_spark.operators.doc_ids import assign_doc_ids
from cuvs_lucene_spark.sources.catalog import IndexCatalog

POSTINGS_SCHEMA = (
    "bucket int, field string, term string, salt int, block_id int, "
    "first_doc long, last_doc long, doc_count int, cf long, "
    "doc_gaps binary, tfs binary, dls binary, pos binary, "
    "max_tf int, min_dl_d long, n_bytes int"
)

# column order of POSTINGS_SCHEMA — kernels reorder their output to this so
# Arrow column/position matching can never drift from the declared schema
POSTINGS_COLS = [c.split()[0] for c in POSTINGS_SCHEMA.split(", ")]

# `field`: which indexed document field the posting list belongs to — the
# analog of the reference's per-field index entries
# (``CuVS2510GPUVectorsWriter.java:335-352``: one meta entry + payload slice
# per field; two-field coverage ``TestCuVSVectorsFormat.java:92-129``). Every
# query runs against exactly one field (Lucene TermQuery = (field, term));
# per-field collection stats (docCount, avgdl) live in the segment manifest.

# `pos`: FOR-packed within-doc token positions of every occurrence in the
# block, concatenated in (doc, occurrence) order — per-posting slice lengths
# are the block's tfs, so no extra offsets are stored (Lucene's .prx analog).
# b"" (zero bytes) when the index was built without positions.


def _encode_sorted_rows(
    bucket: np.ndarray,
    term: np.ndarray,
    salt: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dl_qs: np.ndarray,
    block_size: int,
    term_codes: np.ndarray | None = None,
    positions: np.ndarray | None = None,
    occ_counts: np.ndarray | None = None,
) -> pd.DataFrame:
    """Encode rows already sorted by (bucket, term, salt, doc_id) into block
    rows. Group boundaries found vectorized (np boundary scan), so Python-level
    work is O(#blocks), never O(#groups-via-Spark): the analog of the
    reference's per-node block encoder (sort ids, delta encode, write
    counts+gaps, record per-node byte sizes —
    ``Lucene99AcceleratedHNSWVectorsWriter.java:438-487``) plus Lucene-style
    per-block impacts: (max_tf, min_dl_d) is a bound-safe input to Block-Max
    WAND (score increasing in tf, decreasing in dl ⇒
    score(tf,dl) ≤ score(max_tf, min_dl) for every posting in the block).
    The pair is avgdl-free, so encoding needs NO global statistic — the
    property that lets the build make a single pass over the corpus text.

    ``positions`` (optional): within-doc token positions of ALL occurrences,
    concatenated in input-row order (ascending within each (term, doc) by the
    stable upstream sort). ``occ_counts`` gives occurrences per input row —
    None means every row is a single occurrence (the flush path); the
    merge/compaction paths pass their per-row tf. RLE aggregation of
    duplicate (term, doc) rows leaves the occurrence stream untouched
    (consecutive rows' occurrence slices concatenate in position order).
    """
    # Run-length aggregate duplicate (term, salt, doc_id) rows into tf counts
    # FIRST (the token stream arrives un-aggregated — sort-based aggregation
    # replaces a second hash-aggregation exchange): a "run" is consecutive
    # equal (bucket, term, salt, doc_id); tf = run length (or the sum of
    # pre-combined tfs when the input already carries tf > 1). Terms are
    # factorized to int codes once so boundary scans are int compares, not
    # per-element Python string equality.
    n0 = len(doc_ids)
    if term_codes is not None:
        tcodes = term_codes
    elif n0 and term.dtype != object:
        tcodes = term  # already integer codes
    else:
        tcodes = pd.factorize(term)[0] if n0 else np.empty(0, dtype=np.int64)
    rchange = np.ones(n0, dtype=bool)
    if n0 > 1:
        rchange[1:] = (
            (doc_ids[1:] != doc_ids[:-1])
            | (tcodes[1:] != tcodes[:-1])
            | (salt[1:] != salt[:-1])
            | (bucket[1:] != bucket[:-1])
        )
    rstarts = np.flatnonzero(rchange)
    tf_sums = np.add.reduceat(tfs.astype(np.int64), rstarts)
    if positions is not None:
        occ_in = (
            occ_counts.astype(np.int64)
            if occ_counts is not None
            else np.ones(n0, dtype=np.int64)
        )
        occ_sums = np.add.reduceat(occ_in, rstarts)
    bucket, term, salt = bucket[rstarts], term[rstarts], salt[rstarts]
    tcodes = tcodes[rstarts]
    doc_ids, tfs, dl_qs = doc_ids[rstarts], tf_sums, dl_qs[rstarts]

    n = len(doc_ids)
    change = np.ones(n, dtype=bool)
    if n > 1:
        change[1:] = (
            (bucket[1:] != bucket[:-1])
            | (tcodes[1:] != tcodes[:-1])
            | (salt[1:] != salt[:-1])
        )
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)

    dl_d_all = dequantize_dl_np(dl_qs)

    # --- block segmentation, fully vectorized: group g splits into
    # ceil(size_g / block_size) blocks of consecutive rows -------------------
    sizes = ends - starts
    nb_per_group = -(-sizes // block_size)
    g_idx = np.repeat(np.arange(len(starts)), nb_per_group)  # group of each block
    nb_cum = np.cumsum(nb_per_group)
    block_id = (np.arange(int(nb_cum[-1]) if len(nb_cum) else 0)
                - np.repeat(nb_cum - nb_per_group, nb_per_group))
    block_starts = starts[g_idx] + block_id * block_size
    block_ends = np.minimum(block_starts + block_size, ends[g_idx])
    bs = block_starts.astype(np.intp)

    # --- per-block metadata via reduceat (no Python loop) -------------------
    doc_count = (block_ends - block_starts).astype(np.int32)
    cf = np.add.reduceat(tfs.astype(np.int64), bs)
    max_tf = np.maximum.reduceat(tfs, bs)
    min_dl_d = np.minimum.reduceat(dl_d_all, bs)

    # --- payload streams: delta gaps (reset per block), tfs, quantized dls --
    ids64 = doc_ids.astype(np.uint64)
    gaps = np.zeros(n, dtype=np.uint64)
    if n > 1:
        gaps[1:] = ids64[1:] - ids64[:-1]
    gaps[bs] = 0  # first gap of every block is 0 (first_doc is the anchor)
    gaps_col = pack_u64_blocks(gaps, bs, block_ends)
    tfs_col = pack_u64_blocks(tfs.astype(np.uint64), bs, block_ends)
    dls_col = pack_u64_blocks(dl_qs.astype(np.uint64), bs, block_ends)
    if positions is not None:
        # occurrence-stream offsets per block: posting rows tile blocks
        # contiguously, so occurrences do too
        oprefix = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(occ_sums, out=oprefix[1:])
        pos_col = pack_u64_blocks(
            positions.astype(np.uint64), oprefix[bs], oprefix[block_ends]
        )
    else:
        pos_col = np.empty(len(gaps_col), dtype=object)
        pos_col[:] = b""
    n_bytes = np.fromiter(
        (
            len(a) + len(b) + len(c) + len(p)
            for a, b, c, p in zip(gaps_col, tfs_col, dls_col, pos_col)
        ),
        dtype=np.int64, count=len(gaps_col),
    )

    return pd.DataFrame({
        "bucket": bucket[block_starts].astype(np.int32),
        "term": term[block_starts],
        "salt": salt[block_starts].astype(np.int32),
        "block_id": block_id.astype(np.int32),
        "first_doc": doc_ids[block_starts].astype(np.int64),
        "last_doc": doc_ids[block_ends - 1].astype(np.int64),
        "doc_count": doc_count,
        "cf": cf,
        "doc_gaps": gaps_col,
        "tfs": tfs_col,
        "dls": dls_col,
        "pos": pos_col,
        "max_tf": max_tf.astype(np.int32),
        "min_dl_d": min_dl_d.astype(np.int64),
        "n_bytes": n_bytes,
    })


def _fielded_codes(field: np.ndarray, term: np.ndarray) -> np.ndarray:
    """Factorize (field, term) pairs into one int code array: field codes are
    folded into the term codes so every boundary scan downstream treats two
    fields' identical terms as distinct groups. O(n) int ops; no per-row
    string concatenation (field cardinality is tiny)."""
    fc = pd.factorize(field)[0].astype(np.int64)
    tc = pd.factorize(term)[0].astype(np.int64)
    return fc * (tc.max() + 1 if len(tc) else 1) + tc


def make_partition_encoder(block_size: int = BLOCK_SIZE):
    """mapInPandas kernel over a partition PRE-SORTED by
    (bucket, field, term, salt, doc_id): stream Arrow batches, carry the
    trailing (possibly incomplete) group across batch boundaries, emit block
    rows.

    This replaces a groupBy(term).applyInPandas design: with a 50k-term
    vocabulary the per-group Arrow round-trip overhead dominates build time;
    here the per-Python-call unit is a whole partition batch (10k rows), so
    overhead is O(#partitions), not O(#terms) — the difference between 10^2
    and 10^7 Python crossings at 10^12-turn scale.
    """

    def _row_positions(head: pd.DataFrame):
        """(flat positions, occ_counts) from a decoded `pos` array column —
        row order IS occurrence order (positions ascend within each posting)."""
        if "pos" not in head.columns:
            return None, None
        lists = head["pos"].to_numpy()
        flat = (
            np.concatenate(lists)
            if len(lists)
            else np.empty(0, dtype=np.int64)
        )
        return flat.astype(np.int64), head["tf"].to_numpy().astype(np.int64)

    def _encode_slice(head: pd.DataFrame) -> pd.DataFrame:
        f = head["field"].to_numpy()
        t = head["term"].to_numpy()
        cc = _fielded_codes(f, t)
        ppos, pocc = _row_positions(head)
        # pass the combined code as the "term" array: _encode_sorted_rows
        # emits it per block, and rep maps codes back to (field, term) strings
        rep = np.zeros(int(cc.max()) + 1 if len(cc) else 1, dtype=np.int64)
        rep[cc] = np.arange(len(cc))
        out = _encode_sorted_rows(
            head["bucket"].to_numpy(), cc, head["salt"].to_numpy(),
            head["doc_id"].to_numpy(), head["tf"].to_numpy(),
            head["dl_q"].to_numpy(), block_size,
            term_codes=cc, positions=ppos, occ_counts=pocc,
        )
        codes_out = rep[out["term"].to_numpy().astype(np.int64)]
        out["term"] = t[codes_out]
        out.insert(1, "field", f[codes_out])
        return out

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            b = pdf["bucket"].to_numpy()
            tc = _fielded_codes(pdf["field"].to_numpy(), pdf["term"].to_numpy())
            s = pdf["salt"].to_numpy()
            change = np.ones(len(pdf), dtype=bool)
            change[1:] = (b[1:] != b[:-1]) | (tc[1:] != tc[:-1]) | (s[1:] != s[:-1])
            last_start = int(np.flatnonzero(change)[-1])
            if last_start == 0:
                pending = pdf  # single (possibly spanning) group: keep buffering
                continue
            head = pdf.iloc[:last_start]
            pending = pdf.iloc[last_start:].reset_index(drop=True)
            yield _encode_slice(head)
        if pending is not None and len(pending):
            yield _encode_slice(pending)

    return encode


def encode_postings(
    spark: SparkSession,
    salted: DataFrame,
    buckets: int,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """(field, term, doc_id, tf, dl_q, salt, bucket) rows → posting block rows.

    Co-locates each (bucket, salt) slice, sorts so every (field, term, salt)
    posting list is contiguous and docID-ascending, then streams whole
    partitions through the Arrow encoder (O(#partitions) Python crossings —
    see make_partition_encoder). Used by compaction (whose input is already
    decoded posting rows); the initial build uses the cheaper
    flush+merge path (make_flush_kernel / merge_partials).
    """
    enc_parts = max(buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))
    return (
        salted.repartition(enc_parts, "bucket", "salt")
        .sortWithinPartitions("bucket", "field", "term", "salt", "doc_id")
        .mapInPandas(make_partition_encoder(block_size), POSTINGS_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Flush + merge build path — the reference's own two-phase shape
# (per-segment flush ``CuVS2510GPUVectorsWriter.java:300-310`` then segment
# merge ``:491-519``), re-expressed per Spark partition:
#   phase 1 (narrow): each doc partition tokenizes IN PYTHON and emits
#     already-encoded PARTIAL posting blocks for its disjoint docID range;
#   phase 2 (wide): partials shuffle by (bucket, salt) — compressed binary
#     blocks, 10-20x fewer bytes than raw token rows — and concatenate per
#     term in first_doc order (ranges are disjoint ⇒ merge is pure concat,
#     the M2 fast path), re-blocked to BLOCK_SIZE.
# This keeps the 10^8-row token stream entirely inside one Python kernel:
# no JVM explode, no raw-token shuffle/sort, no bulk Arrow transfer — the
# three stages a shared-memory-bandwidth box (and a 1000-executor shuffle
# fabric) pays for most dearly.
# ---------------------------------------------------------------------------

_FINDALL_PATTERN = "[a-z0-9]+"  # findall twin of analysis.TOKEN_PATTERN split


def bucket_of_terms(terms: np.ndarray, buckets: int) -> np.ndarray:
    """crc32(term) % buckets — computable identically in numpy-Python (zlib)
    and JVM (F.crc32), so flush kernels and compaction agree on layout."""
    import zlib

    return np.fromiter(
        (zlib.crc32(t.encode("utf-8")) % buckets for t in terms),
        dtype=np.int64,
        count=len(terms),
    )


def bucket_col(term_col, buckets: int):
    """JVM twin of bucket_of_terms (used by compaction)."""
    return F.pmod(F.crc32(F.encode(term_col, "UTF-8")), F.lit(buckets)).cast("int")


DOC_DIM_COLS = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts"]


def _doc_dim_schema(extra_fields: tuple[str, ...] = ()):
    """doc_dim schema: `dl/dl_q/dl_d` are the PRIMARY field's lengths
    (back-compat with every consumer); each extra indexed field appends one
    exact-length column `dl__<field>` (quantized norms are not needed here —
    they travel inside the posting blocks; doc_dim lengths feed only the
    per-field collection stats and the norms inspection surface)."""
    import pyarrow as pa

    return pa.schema([
        ("doc_id", pa.int64()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("dl", pa.int64()),
        ("dl_q", pa.int32()),
        ("dl_d", pa.float64()),
        *[(f"dl__{f}", pa.int64()) for f in extra_fields],
    ])


# Filter-pruning cluster order for the committed doc_dim. Filtered search
# (`query._accepted_doc_ids`) evaluates arbitrary predicates over doc_dim;
# the common interactive filters are role equality and ts ranges, so the
# committed table is range-clustered on (role, ts): every output parquet
# file covers one narrow (role, ts) slice and parquet footer min/max stats
# let Spark skip whole files/row-groups. At 10^11 docs this makes a
# `role='user' AND ts BETWEEN ...` filter scan proportional to the selected
# slice instead of the full multi-TB dim table.
DOC_DIM_CLUSTER_ROWS_PER_FILE = 4_000_000


def _doc_dim_tmp_path(cat, sid: int) -> str:
    from cuvs_lucene_spark.sources import fs

    return fs.join(cat.seg_dir(sid), "doc_dim.clustering")


def _recover_doc_dim_swap(cat, sid: int) -> None:
    """Finish (or discard) a clustering swap a dead attempt left half-done:
    tmp present + final missing → complete the rename; tmp present + final
    present → stale tmp from a dead attempt, drop it. Pre-commit only — a
    committed segment's files.json already pins the clustered files."""
    from cuvs_lucene_spark.sources import fs

    tmp = _doc_dim_tmp_path(cat, sid)
    if fs.isdir(tmp):
        if fs.isdir(cat.doc_dim_path(sid)):
            fs.delete_dir(tmp)
        else:
            fs.move(tmp, cat.doc_dim_path(sid))


def cluster_doc_dim(
    spark: SparkSession,
    cat,
    sid: int,
    n_rows: int,
    rows_per_file: int = DOC_DIM_CLUSTER_ROWS_PER_FILE,
) -> None:
    """Rewrite the segment's doc_dim range-clustered by (role, ts) — see
    DOC_DIM_CLUSTER_ROWS_PER_FILE note. One narrow shuffle over the dim
    table (a few small columns, ~1/50th of corpus bytes). Crash-safe swap:
    write tmp → delete raw → rename; `_recover_doc_dim_swap` completes an
    interrupted swap on the next attempt."""
    from cuvs_lucene_spark.sources import fs

    raw = cat.doc_dim_path(sid)
    tmp = _doc_dim_tmp_path(cat, sid)
    fs.delete_dir(tmp)
    n_parts = max(1, min(32768, -(-max(1, n_rows) // rows_per_file)))
    (
        spark.read.parquet(raw)
        .repartitionByRange(n_parts, F.col("role"), F.col("ts"))
        .sortWithinPartitions("role", "ts")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    fs.delete_dir(raw)
    fs.move(tmp, raw)


def make_flush_kernel(
    buckets: int,
    salt_buckets: int,
    hot_terms: list[str],
    block_size: int = BLOCK_SIZE,
    positions: bool = False,
    doc_dim_dir: str | None = None,
    fields: tuple[str, ...] = ("text",),
    analyzer: str = "standard",
):
    """mapInPandas kernel over doc partitions → partial posting block rows
    for that partition's docID range.

    Tokenization here is the pinned analyzer contract (analysis.tokenize_py):
    lowercase + [a-z0-9]+ runs. Salting of hot terms happens at flush so the
    downstream shuffle key (bucket, salt) splits them S ways.

    positions=True additionally records each occurrence's within-doc token
    ordinal (0-based over the analyzer's token list) into the block `pos`
    payload — the input to phrase queries (Lucene .prx analog).

    fields: the document columns to index, each producing its own posting
    lists tagged with a `field` column (per-field entries,
    ``CuVS2510GPUVectorsWriter.java:335-352``). fields[0] is the PRIMARY
    field: its lengths fill doc_dim's dl/dl_q/dl_d; each extra field adds a
    `dl__<field>` column. All fields are tokenized from the SAME Arrow batch,
    so indexing F fields still reads the corpus exactly once.

    doc_dim_dir (the ONE-pass build): the kernel side-writes this partition's
    doc_dim slice (meta cols + exact dl + quantized norms, computed from the
    token counts the flush derives anyway) as a deterministic
    ``part-{pid:05d}.parquet`` (written via temp + atomic rename, so task
    retries simply recompute identical bytes). With the block impacts now
    avgdl-free, this makes the whole build read the corpus text exactly ONCE
    — at 10^12 turns, each avoided pass is a full 100 TB scan. On an object
    store, route this through a task-commit protocol instead of rename.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    hot = set(hot_terms)

    def _flush_field(pdf: pd.DataFrame, fname: str, doc_ids: np.ndarray):
        """Tokenize + encode ONE field of the batch → (block rows without the
        `field` column | None, exact per-doc dl, quantized per-doc dl)."""
        # tokenize entirely in Arrow C++: lower → regex split → flatten →
        # dictionary-encode. No per-token Python string objects exist at
        # any point; Python touches only the ~|vocab∩partition| uniques.
        texts = pa.array(pdf[fname], type=pa.string(), from_pandas=True)
        tok_list = pc.split_pattern_regex(
            pc.utf8_lower(texts), TOKEN_PATTERN
        )  # list<string>; "" at text boundaries; NULL text → NULL list
        lens = pc.list_value_length(tok_list).to_numpy(zero_copy_only=False)
        lens = np.nan_to_num(lens, nan=0).astype(np.int64)  # NULL → 0
        flat = pc.list_flatten(tok_list)  # null lists contribute nothing
        enc = pc.dictionary_encode(flat)
        if isinstance(enc, pa.ChunkedArray):
            enc = enc.combine_chunks()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniq = np.asarray(enc.dictionary.to_pandas(), dtype=object)
        d_rep = np.repeat(doc_ids, lens)
        # Analysis chain over the dictionary-encoded stream:
        #   keep1 — non-"" split artifacts: TOKENS of the analyzer contract
        #     ("" consumes no position, counts nowhere);
        #   keep_all — keep1 minus stopwords under the "english" chain: a
        #     stopword CONSUMES a position (Lucene StopFilter with
        #     enablePositionIncrements — phrase gaps survive) but is not
        #     indexed and does not count toward dl (norms count indexed
        #     tokens only).
        # dl via prefix-sum difference: immune to reduceat's empty-segment
        # aliasing AND to trailing zero-length docs (NULL texts at the batch
        # tail), where a clipped reduceat undercounts the last non-empty doc
        # by one token and desyncs q_rep from the kept rows.
        empty_code = np.flatnonzero(uniq == "")
        doc_off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=doc_off[1:])
        pos = None
        keep1 = (codes != empty_code[0]) if len(empty_code) else None
        not_stop = None
        if analyzer == "english":
            stop_codes = np.flatnonzero(
                np.isin(uniq.astype("U"), _ENGLISH_STOP_ARR)
            )
            if len(stop_codes):
                not_stop = ~np.isin(codes, stop_codes)
        if keep1 is None and not_stop is None:
            dl = lens
            if positions:
                pos = np.arange(len(codes), dtype=np.int64) - np.repeat(
                    doc_off[:-1], lens
                )
        else:
            k1 = keep1 if keep1 is not None else np.ones(len(codes), bool)
            keep_all = (k1 & not_stop) if not_stop is not None else k1
            if positions:
                # position = ordinal among keep1 tokens within the doc
                kcum1 = np.zeros(len(codes) + 1, dtype=np.int64)
                np.cumsum(k1, out=kcum1[1:])
                pos = (
                    kcum1[:-1] - np.repeat(kcum1[doc_off[:-1]], lens)
                )[keep_all]
            acum = np.zeros(len(codes) + 1, dtype=np.int64)
            np.cumsum(keep_all, out=acum[1:])
            dl = acum[doc_off[1:]] - acum[doc_off[:-1]]
            codes, d_rep = codes[keep_all], d_rep[keep_all]
        if analyzer == "english" and len(codes):
            # minimal stem on the DICTIONARY, then re-encode: stems collide
            # (dog/dogs), and duplicate (doc, term) rows downstream are the
            # normal tf>1 case the sorted-run aggregation already handles
            stemmed = english_minimal_stem_np(uniq)
            uniq, inv = np.unique(stemmed, return_inverse=True)
            uniq = uniq.astype(object)
            codes = inv[codes]
        q_per_doc = quantize_dl_np(np.maximum(dl, 0))
        if not len(codes):
            return None, dl, q_per_doc
        q_rep = np.repeat(q_per_doc, dl)
        u_bucket = bucket_of_terms(uniq, buckets)
        if hot:
            u_hot = np.fromiter(
                (u in hot for u in uniq), dtype=bool, count=len(uniq)
            )
            salt = np.where(
                u_hot[codes], d_rep % salt_buckets, 0
            ).astype(np.int64)
        else:
            salt = np.zeros(len(codes), dtype=np.int64)
        # stable sort: (term, salt) groups, docID-ascending inside (input
        # rows arrive in docID order — the partition IS a sorted range)
        order = np.lexsort((salt, codes))
        cs = codes[order]
        out = _encode_sorted_rows(
            u_bucket[cs],
            cs,
            salt[order],
            d_rep[order],
            np.ones(len(order), dtype=np.int64),
            q_rep[order],
            block_size,
            term_codes=cs,
            # lexsort is stable and input rows arrive (doc asc, pos asc),
            # so each (term, doc) run's occurrence positions stay ascending
            positions=pos[order] if positions else None,
        )
        out["term"] = uniq[out["term"].to_numpy().astype(np.int64)]
        return out, dl, q_per_doc

    def flush(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dd_parts: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids = pdf["doc_id"].to_numpy()
            extra_dl: dict[str, np.ndarray] = {}
            outs: list[pd.DataFrame] = []
            for fname in fields:
                out, dl, q_per_doc = _flush_field(pdf, fname, doc_ids)
                if fname == fields[0]:
                    dl0, q0 = dl, q_per_doc
                else:
                    extra_dl[f"dl__{fname}"] = dl
                if out is not None:
                    out.insert(1, "field", fname)
                    outs.append(out)
            if doc_dim_dir is not None:
                dd_parts.append(
                    pa.table(
                        {
                            **{
                                c: pa.array(pdf[c], from_pandas=True)
                                for c in DOC_DIM_COLS
                            },
                            "dl": pa.array(dl0),
                            "dl_q": pa.array(q0.astype(np.int32)),
                            "dl_d": pa.array(dequantize_dl_np(q0)),
                            **{k: pa.array(v) for k, v in extra_dl.items()},
                        }
                    ).cast(_doc_dim_schema(tuple(fields[1:])))
                )
            yield from outs
        if doc_dim_dir is not None and dd_parts:
            from pyspark import TaskContext

            from cuvs_lucene_spark.sources import fs

            # deterministic part name keyed by partition id → retried or
            # speculative tasks converge on identical content (kernel-side
            # output-committer; works on any pyarrow.fs scheme)
            pid = TaskContext.get().partitionId()
            fs.mkdirs(doc_dim_dir)
            fs.write_parquet_atomic(
                pa.concat_tables(dd_parts),
                fs.join(doc_dim_dir, f"part-{pid:05d}.parquet"),
            )

    return flush


def make_merge_kernel(block_size: int = BLOCK_SIZE):
    """mapInPandas kernel over partial-block partitions PRE-SORTED by
    (bucket, field, term, salt, first_doc): batch-decode the blocks, and
    re-encode each (field, term, salt) group's concatenated postings into
    final BLOCK_SIZE blocks. Disjoint source docID ranges make this a concat,
    never a k-way interleave (cf. native index merge,
    ``CuVS2510GPUVectorsWriter.java:372-409``).
    """
    def encode_group_blocks(pdf: pd.DataFrame, tc: np.ndarray) -> pd.DataFrame:
        """Decode block rows ((field, term)-factorized to int codes tc) and
        re-encode; per-posting arrays carry CODES, strings reappear only per
        out-block."""
        uniq_terms = pdf["term"].to_numpy()  # aligned with codes via first use
        uniq_fields = pdf["field"].to_numpy()
        doc_ids, counts = decode_block_doc_ids(
            pdf["first_doc"].to_numpy(), list(pdf["doc_gaps"])
        )
        tfs, _ = unpack_u64_blocks(list(pdf["tfs"]))
        dlqs, _ = unpack_u64_blocks(list(pdf["dls"]))
        pos_bufs = list(pdf["pos"]) if "pos" in pdf.columns else []
        positional = any(len(b) for b in pos_bufs)
        pos_vals = unpack_u64_blocks(pos_bufs)[0] if positional else None
        # map each block row to ONE representative row index so the final
        # term strings can be recovered from codes without a per-posting
        # object array: rep[code] = a row index holding that code
        rep = np.zeros(int(tc.max()) + 1 if len(tc) else 1, dtype=np.int64)
        rep[tc] = np.arange(len(tc))
        out = _encode_sorted_rows(
            np.repeat(pdf["bucket"].to_numpy(), counts),
            np.repeat(tc, counts),
            np.repeat(pdf["salt"].to_numpy(), counts),
            doc_ids,
            tfs.astype(np.int64),
            dlqs.astype(np.int64),
            block_size,
            term_codes=np.repeat(tc, counts),
            # partial blocks concat in first_doc order, so the occurrence
            # streams concat in (doc, position) order too
            positions=pos_vals,
            occ_counts=tfs.astype(np.int64) if positional else None,
        )
        codes_out = rep[out["term"].to_numpy().astype(np.int64)]
        out["term"] = uniq_terms[codes_out]
        out.insert(1, "field", uniq_fields[codes_out])
        return out

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            b = pdf["bucket"].to_numpy()
            tc = _fielded_codes(pdf["field"].to_numpy(), pdf["term"].to_numpy())
            s = pdf["salt"].to_numpy()
            change = np.ones(len(pdf), dtype=bool)
            change[1:] = (b[1:] != b[:-1]) | (tc[1:] != tc[:-1]) | (s[1:] != s[:-1])
            last_start = int(np.flatnonzero(change)[-1])
            if last_start == 0:
                pending = pdf
                continue
            head = pdf.iloc[:last_start]
            pending = pdf.iloc[last_start:].reset_index(drop=True)
            yield encode_group_blocks(head, tc[:last_start])
        if pending is not None and len(pending):
            yield encode_group_blocks(
                pending,
                _fielded_codes(
                    pending["field"].to_numpy(), pending["term"].to_numpy()
                ),
            )

    return merge


def merge_partials(
    spark: SparkSession,
    partials: DataFrame,
    buckets: int,
    block_size: int = BLOCK_SIZE,
    reblock: bool = False,
) -> DataFrame:
    """Partial block rows → final postings: THE (only) wide shuffle of the
    build, carrying compressed blocks instead of raw token rows.

    reblock=False (default, the build path) keeps the partial blocks as-is —
    they are fully self-contained (global docIDs, own impacts), so co-locating
    and ordering them by (term, first_doc) IS a valid index; no byte touches
    Python. This is Lucene's own economy: flush writes many small segments
    fast, and the merge policy re-blocks later — our compaction
    (operators/merge.py) is that later, re-encoding to uniform BLOCK_SIZE
    runs. reblock=True performs the re-block inline (decode→concat→encode in
    the merge kernel) for callers that want final-form blocks immediately.
    """
    enc_parts = max(buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))
    co = partials.repartition(enc_parts, "bucket", "salt").sortWithinPartitions(
        "bucket", "field", "term", "salt", "first_doc"
    )
    if not reblock:
        return co
    return co.mapInPandas(make_merge_kernel(block_size), POSTINGS_SCHEMA)


def prepare_docs(
    df: DataFrame,
    doc_base: int = 0,
    num_partitions: int | None = None,
    return_cached: bool = False,
) -> DataFrame:
    """transcripts → docs with global doc_id, dl, quantized norms.

    Deliberately does NOT materialize a tokens column: persisting token
    arrays for a 100 TB corpus is infeasible, so dl is computed in one JVM
    expression here and the tf stage re-tokenizes from text (tokenization is
    codegen'd JVM work — recomputing it is cheaper at scale than caching it).
    The only cache is the sorted source rows inside assign_doc_ids (docID
    determinism); derived columns recompute from it per consumer rather than
    being cached a second time.
    """
    res = assign_doc_ids(df, num_partitions, return_cached=return_cached)
    docs, cached = res if return_cached else (res, None)
    if doc_base:
        docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(doc_base))
    # dl = number of maximal [a-z0-9]+ runs — identical to
    # array_size(tokenize_col(text)) but a single regex scan with no array
    # materialization and no interpreted higher-order filter.
    docs = docs.withColumn(
        "dl",
        F.coalesce(
            F.regexp_count(F.lower(F.col("text")), F.lit("[a-z0-9]+")), F.lit(0)
        ).cast("long"),
    )
    docs = with_quantized_dl(docs, "dl")
    if return_cached:
        return docs, cached
    return docs


def detect_hot_terms(
    docs: DataFrame,
    n_docs: int,
    hot_df_ratio: float = 0.05,
    sample_fraction: float = 0.05,
    field: str = "text",
) -> list[str]:
    """Terms whose estimated df exceeds hot_df_ratio·n_docs → get salted.

    Runs BEFORE the wide shuffle on a deterministic doc sample: tokenize the
    sample, count docs-containing-term (distinct per doc), scale by the
    sample fraction. A full-corpus pre-pass would double the heaviest stage;
    salting correctness does not depend on WHICH terms are salted (only block
    layout does), so a seeded estimate over a few % of docs is safe — terms
    hot enough to skew a shuffle are, by definition, frequent enough to be
    visible in any few-% sample.
    """
    return detect_hot_terms_multi(
        docs, n_docs, hot_df_ratio, sample_fraction, (field,)
    )


def detect_hot_terms_multi(
    docs: DataFrame,
    n_docs: int | None,
    hot_df_ratio: float = 0.05,
    sample_fraction: float = 0.05,
    fields: tuple[str, ...] = ("text",),
) -> list[str]:
    """Union of hot terms across ALL indexed fields in ONE sampled job.

    One job per field would re-scan the sampled corpus F times (the sample
    read dominates the job); instead every field of a row is tokenized from
    the same scan — each row emits one flattened array of (field-ordinal,
    term) structs — and a single groupBy counts per-(field, term) df
    estimates. The df threshold is per field (a term hot in ANY field gets
    salted: salting affects only block layout, never correctness, so the
    union over-salts harmlessly — same policy as compaction).

    n_docs=None derives the threshold from the SAMPLE's own row count inside
    the job: every sampled row also emits one marker struct (fi=-1), whose
    aggregated count IS the sample size — one scan produces both the
    per-term estimates and the denominator, and a windowed max broadcasts it
    across the (vocab-sized) aggregate. A Bernoulli sample's size
    concentrates tightly around n·fraction, and salting is layout-only, so
    the in-job estimate is as safe as the external count — and it frees
    build_index from running count() first (the count job is gone)."""
    src = (
        docs
        if sample_fraction >= 1.0
        else docs.sample(fraction=sample_fraction, seed=42)
    )
    eff = min(sample_fraction, 1.0)
    if n_docs is not None:
        thresh = F.lit(hot_df_ratio * n_docs * eff)
    else:
        thresh = F.lit(hot_df_ratio) * F.col("_sample_rows")
    empty = F.array().cast("array<string>")
    per_field = [
        F.transform(
            # NULL text tokenizes to a NULL array, and flatten() of an array
            # CONTAINING a null element is NULL — which would silently drop
            # the row's OTHER fields' terms; coalesce each field to [] first
            F.coalesce(F.array_distinct(tokenize_col(fld)), empty),
            lambda t, _i=i: F.struct(F.lit(_i).alias("fi"), t.alias("term")),
        )
        for i, fld in enumerate(fields)
    ]
    if n_docs is None:
        # one marker struct per sampled row: its aggregated count is the
        # sample size, produced by the SAME scan as the term estimates
        per_field.append(
            F.array(F.struct(F.lit(-1).alias("fi"), F.lit("").alias("term")))
        )
    est = (
        src.select(F.explode(F.flatten(F.array(*per_field))).alias("p"))
        .groupBy("p.fi", "p.term")
        .agg(F.count(F.lit(1)).alias("df_est"))
    )
    if n_docs is None:
        w_all = Window.partitionBy()  # vocab-sized aggregate — cheap
        est = est.withColumn(
            "_sample_rows",
            F.max(
                F.when(F.col("fi") == -1, F.col("df_est"))
            ).over(w_all).cast("double"),
        ).where(F.col("fi") >= 0)
    rows = (
        est.where(F.col("df_est") > thresh)
        .select("term")
        .distinct()
        .collect()
    )
    return sorted(r["term"] for r in rows)


def _committed_buckets(
    spark: SparkSession, cat: IndexCatalog, segment_id: int, buckets: int
) -> set[int]:
    """Buckets of this (uncommitted) segment already marked 'committed' in
    lineage by a previous attempt — the resume set. Stale lineage from a
    different bucket layout (any id outside range(buckets)) is ignored
    wholesale; buckets with postings are additionally required to have their
    partition dir on disk."""
    from cuvs_lucene_spark.sources import fs

    if not fs.isdir(cat.lineage_path()):
        return set()
    try:
        rows = (
            cat.read_lineage(spark)
            .where(
                (F.col("segment_id") == segment_id)
                & (F.col("status") == "committed")
            )
            .groupBy("bucket")
            .agg(F.max("postings_written").alias("postings"))
            .collect()
        )
    except Exception:
        return set()
    done = {int(r["bucket"]): int(r["postings"]) for r in rows}
    if any(b < 0 or b >= buckets for b in done):
        return set()
    pdir = cat.postings_path(segment_id)
    return {
        b
        for b, n in done.items()
        if n == 0 or fs.isdir(fs.join(pdir, f"bucket={b}"))
    }


def build_segment(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    segment_id: int = 0,
    *,
    buckets: int = 32,
    salt_buckets: int = 8,
    hot_df_ratio: float = 0.05,
    hot_sample_fraction: float = 0.02,
    block_size: int = BLOCK_SIZE,
    run_id: str | None = None,
    bucket_groups: int = 1,
    positions: bool = False,
    fields: tuple[str, ...] = ("text",),
    analyzer: str = "standard",
    _fail_after_groups: int | None = None,
) -> dict:
    """Build + commit one segment; returns its manifest entry.

    Idempotent/resumable at two granularities (checkpoint-resume, north_rule;
    analog of the reference's finish() idempotence guard
    ``CuVS2510GPUVectorsWriter.java:521-524``):

    * **segment** — if the manifest already lists segment_id, no-op.
    * **bucket group** (``bucket_groups > 1``) — the postings write is split
      into that many separate jobs over disjoint bucket ranges, each followed
      by a per-bucket 'committed' lineage append. On restart after a
      mid-build kill, buckets whose lineage rows exist (and whose partition
      dirs are on disk) are SKIPPED — only the remaining groups are written
      (dynamic partition overwrite preserves the committed ones). Sound
      because every input to a bucket's bytes is a deterministic function of
      (input, params): docIDs (sorted probe / rank order) and the seeded
      hot-term sample. The merged block set is persisted to executor disk for
      the duration of the multi-write so the flush+shuffle runs once per
      attempt, not once per group.

    ``_fail_after_groups`` is a fault-injection seam for the kill-and-resume
    test only: raise after N group commits, simulating a mid-build crash.
    """
    cat = IndexCatalog(index_dir)
    existing = cat.read_manifest()["segments"]
    if segment_id in {s["id"] for s in existing}:
        return next(s for s in existing if s["id"] == segment_id)
    if existing:
        # bucket layout must agree across segments: the query planner prunes
        # partitions with one term→bucket map for the whole index; the
        # positional flag likewise (phrase queries need EVERY segment's pos);
        # the field set likewise (per-field stats must cover every segment)
        buckets = existing[0]["buckets"]
        positions = bool(existing[0].get("positions", False))
        fields = tuple(existing[0].get("fields", ["text"]))
        # the analysis chain likewise: query-time analysis must match every
        # segment's build-time chain or terms silently stop matching
        analyzer = existing[0].get("analyzer", "standard")
    fields = tuple(fields)
    from cuvs_lucene_spark.analysis import ANALYZERS as _ANALYZERS

    if analyzer not in _ANALYZERS:
        raise ValueError(f"unknown analyzer {analyzer!r} (have {_ANALYZERS})")
    run_id = run_id or uuid.uuid4().hex[:12]
    doc_base = cat.next_doc_base()
    import time as _time

    timings: dict[str, float] = {}
    _t = _time.perf_counter()


    # Pre-pass jobs, overlapped on driver threads (Spark schedules concurrent
    # jobs fine; these were ~10% of the 4-executor build wall when serial —
    # pure Amdahl loss, see BENCH/BASELINE.md round-4 scaling interpretation):
    #   hot — the union of hot terms over indexed fields, ONE sampled job
    #     (all fields tokenized from one scan). Threshold derived in-job from
    #     the sample's own row count (n_docs=None), so no count() job exists.
    #     Salting a term that is hot in ANY field only affects block layout,
    #     never correctness — one shared set keeps the shuffle key
    #     (bucket, salt) field-agnostic.
    #   warm — executor Python workers (imports + package zipimport + first
    #     Arrow roundtrip) exercised with a tiny flush before the full pass:
    #     measured on a cold 16-core session this turns a one-time ~60 s
    #     stall into ~3 s; a real cluster warms every executor the same way.
    #     hot=[] — the warm-up only exercises code paths, its block layout is
    #     discarded (count() sink; no doc_dim_dir, so no part files leak).
    from concurrent.futures import ThreadPoolExecutor

    def _ids_job():
        # docID assignment needs only the sort keys (sorted-scan probe or
        # cached rank fallback) — no text is read here
        t0 = _time.perf_counter()
        out = assign_doc_ids(transcripts, return_cached=True)
        timings["doc_ids"] = _time.perf_counter() - t0
        return out

    def _hot_job() -> list[str]:
        # hot detection tokenizes text only — runs on the RAW transcripts so
        # it needs neither doc ids nor the probe job's completion
        t0 = _time.perf_counter()
        out = detect_hot_terms_multi(
            transcripts, None, hot_df_ratio, hot_sample_fraction, fields
        )
        timings["hot_detect"] = _time.perf_counter() - t0
        return out

    def _warm_job() -> None:
        # warm-up likewise exercises code paths only: a constant doc_id is
        # as good as a real one for imports/Arrow/JIT
        t0 = _time.perf_counter()
        warm_kernel = make_flush_kernel(
            buckets, salt_buckets, [], block_size, positions=positions,
            fields=fields, analyzer=analyzer,
        )
        wsrc = transcripts.limit(2048).withColumn(
            "doc_id", F.lit(0).cast("long")
        ).select(
            *DOC_DIM_COLS, *[f for f in fields if f not in DOC_DIM_COLS]
        )
        (
            wsrc.repartition(spark.sparkContext.defaultParallelism)
            .mapInPandas(warm_kernel, POSTINGS_SCHEMA)
            .count()
        )
        timings["worker_warmup"] = _time.perf_counter() - t0

    with ThreadPoolExecutor(3) as _ex:
        _f_ids = _ex.submit(_ids_job)
        _f_hot, _f_warm = _ex.submit(_hot_job), _ex.submit(_warm_job)
        docs, _cached = _f_ids.result()
        hot = _f_hot.result()
        _f_warm.result()
    if doc_base:
        docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(doc_base))
    src = docs.select(
        *DOC_DIM_COLS, *[f for f in fields if f not in DOC_DIM_COLS]
    )
    if analyzer == "english":
        # hot detection samples RAW tokens (JVM tokenizer, no chain) — map
        # the estimates through the chain so salting targets INDEXED terms
        # (layout-only: an unmapped hot term risks skew, never correctness)
        from cuvs_lucene_spark.analysis import english_minimal_stem_py

        hot = sorted({
            english_minimal_stem_py(t)
            for t in hot
            if t not in ENGLISH_STOP_WORDS
        })
    timings["pre_concurrent"] = _time.perf_counter() - _t; _t = _time.perf_counter()

    # THE one text pass: flush (narrow; tokens never leave Python; doc_dim
    # side-written per partition) → ONE wide shuffle of compressed partial
    # blocks keyed (bucket, salt) → merge (narrow). Avgdl-free impacts make
    # the no-prior-stats pass possible; global stats come afterwards from the
    # written doc_dim (a column-pruned scan of two int columns).
    done = (
        _committed_buckets(spark, cat, segment_id, buckets)
        if bucket_groups > 1
        else set()
    )
    _recover_doc_dim_swap(cat, segment_id)
    if not done:
        # fresh attempt (not a bucket-level resume): clear any stale doc_dim
        # parts from a differently-partitioned dead attempt
        from cuvs_lucene_spark.sources import fs as _fs

        _fs.delete_dir(cat.doc_dim_path(segment_id))
    flush_kernel = make_flush_kernel(
        buckets, salt_buckets, hot, block_size, positions=positions,
        doc_dim_dir=cat.doc_dim_path(segment_id), fields=fields,
        analyzer=analyzer,
    )
    partials = src.mapInPandas(flush_kernel, POSTINGS_SCHEMA)
    blocks = merge_partials(spark, partials, buckets, block_size, reblock=True)

    _stat_box: dict = {}

    def _stats() -> dict:
        """Global stats from the flush-written doc_dim (column-pruned scan of
        a few int columns + footer counts) — available after the FIRST
        postings write action, which materializes the flush stage. Per-field
        collection stats (docCount + sumTotalTermFreq per field — the inputs
        to that field's idf and avgdl, Lucene CollectionStatistics) come from
        the same single agg."""
        if not _stat_box:
            dl_col = {f: ("dl" if f == fields[0] else f"dl__{f}") for f in fields}
            aggs = [F.count(F.lit(1)).alias("total_rows")]
            for f in fields:
                c = dl_col[f]
                aggs.append(
                    F.sum(F.when(F.col(c) > 0, 1).otherwise(0)).alias(f"nd_{f}")
                )
                aggs.append(F.sum(c).alias(f"sd_{f}"))
            row = spark.read.parquet(cat.doc_dim_path(segment_id)).agg(*aggs).collect()[0]
            field_stats = {
                f: {
                    "n_docs": int(row[f"nd_{f}"] or 0),
                    "sum_dl": int(row[f"sd_{f}"] or 0),
                }
                for f in fields
            }
            prim = field_stats[fields[0]]
            _stat_box.update(
                total_rows=int(row["total_rows"]),
                n_docs=prim["n_docs"],
                sum_dl=prim["sum_dl"],
                avgdl=prim["sum_dl"] / prim["n_docs"] if prim["n_docs"] else 1.0,
                field_stats=field_stats,
            )
        return _stat_box

    def _lineage_for(bucket_list: list[int]) -> None:
        n_docs = _stats()["n_docs"]
        try:
            per_bucket = (
                spark.read.option("basePath", cat.postings_path(segment_id))
                .parquet(cat.postings_path(segment_id))
                .where(F.col("bucket").isin(bucket_list))
                .groupBy("bucket")
                .agg(
                    F.sum("doc_count").alias("postings"),
                    F.sum("n_bytes").alias("bytes"),
                )
                .collect()
            )
        except Exception:
            # dir holds no parquet yet (every bucket in this group was empty)
            per_bucket = []
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        found = {int(r["bucket"]) for r in per_bucket}
        rows = [
            (run_id, segment_id, int(r["bucket"]), "committed", n_docs,
             int(r["postings"]), int(r["bytes"]), now)
            for r in per_bucket
        ] + [
            # buckets that received no blocks at all still get a committed
            # marker (resume must not re-attempt them forever)
            (run_id, segment_id, b, "committed", n_docs, 0, 0, now)
            for b in bucket_list
            if b not in found
        ]
        cat.append_lineage(spark, rows)

    _deferred_lineage: list[int] | None = None
    if bucket_groups <= 1:
        blocks.write.mode("overwrite").partitionBy("bucket").parquet(
            cat.postings_path(segment_id)
        )
        timings["encode_write"] = _time.perf_counter() - _t; _t = _time.perf_counter()
        # lineage for the single-group build runs in the concurrent tail
        # below (grouped builds keep per-group lineage inline — the resume
        # invariant needs it committed before the next group starts)
        _deferred_lineage = list(range(buckets))
    else:
        all_b = list(range(buckets))
        size = -(-buckets // bucket_groups)
        groups = [all_b[i:i + size] for i in range(0, buckets, size)]
        todo = [g for g in groups if not set(g) <= done]
        if done:
            blocks = blocks.where(~F.col("bucket").isin(sorted(done)))
        if len(todo) > 1:
            from pyspark import StorageLevel

            blocks = blocks.persist(StorageLevel.DISK_ONLY)
        n_committed = 0
        for g in todo:
            (
                blocks.where(F.col("bucket").isin(g))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(cat.postings_path(segment_id))
            )
            _lineage_for(g)
            n_committed += 1
            if _fail_after_groups is not None and n_committed >= _fail_after_groups:
                blocks.unpersist()
                raise RuntimeError(
                    f"injected failure after {n_committed} bucket groups"
                )
        blocks.unpersist()
        timings["encode_write"] = _time.perf_counter() - _t; _t = _time.perf_counter()

    # Post-encode tail, overlapped on driver threads (independent tables —
    # the other Amdahl serial share; see BENCH/BASELINE.md round-4):
    #   dict — exact dictionary from the written blocks: a metadata-sized
    #     re-scan reading only small stat columns, never binary payloads.
    #   stats→lineage→cluster — global/per-field stats from the flush-written
    #     doc_dim, deferred single-group lineage, then range-clustering of
    #     doc_dim by (role, ts) so filtered search prunes on parquet footer
    #     stats instead of full-scanning the dim table. cluster must run
    #     AFTER _stats() reads the raw parts and BEFORE files.json pins the
    #     final file set; both hold here (commit happens after the join).
    def _dict_job() -> None:
        t0 = _time.perf_counter()
        written = spark.read.parquet(cat.postings_path(segment_id))
        written.groupBy("field", "term").agg(
            F.min("bucket").alias("bucket"),
            F.sum("doc_count").alias("df"),
            F.sum("cf").alias("cf"),
            F.count(F.lit(1)).alias("n_blocks"),
        ).write.mode("overwrite").parquet(cat.dictionary_path(segment_id))
        timings["dictionary"] = _time.perf_counter() - t0

    def _stats_cluster_job() -> dict:
        t0 = _time.perf_counter()
        st = _stats()
        # lineage and clustering both depend on stats but not on each other
        with ThreadPoolExecutor(2) as _ex2:
            fs_ = []
            if _deferred_lineage is not None:
                fs_.append(_ex2.submit(_lineage_for, _deferred_lineage))
            fs_.append(
                _ex2.submit(
                    cluster_doc_dim, spark, cat, segment_id, st["total_rows"]
                )
            )
            for f in fs_:
                f.result()
        timings["stats_lineage_cluster"] = _time.perf_counter() - t0
        return st

    with ThreadPoolExecutor(2) as _ex:
        _f_dict = _ex.submit(_dict_job)
        _f_st = _ex.submit(_stats_cluster_job)
        st = _f_st.result()
        _f_dict.result()
    timings["tail_concurrent"] = _time.perf_counter() - _t
    seg_meta = {
        "id": segment_id,
        "doc_base": doc_base,
        "total_rows": st["total_rows"],
        "n_docs": st["n_docs"],
        "sum_dl": st["sum_dl"],
        "avgdl_local": st["avgdl"],
        "buckets": buckets,
        "hot_terms": len(hot),
        "positions": positions,
        "analyzer": analyzer,
        "fields": list(fields),
        "field_stats": st["field_stats"],
        "run_id": run_id,
        "timings": {k: round(v, 2) for k, v in timings.items()},
    }
    # object-store commit: pin the exact data-file set (files.json) BEFORE the
    # manifest pointer swap — readers then ignore any orphan part-files a dead
    # attempt may have left (rename-independence; see catalog.py)
    cat.record_segment_files(segment_id)
    cat.commit_segment(seg_meta)
    _cached.unpersist()
    return seg_meta


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    **kwargs,
) -> dict:
    """Single-segment convenience build; returns the manifest."""
    build_segment(spark, transcripts, index_dir, 0, **kwargs)
    return IndexCatalog(index_dir).read_manifest()
