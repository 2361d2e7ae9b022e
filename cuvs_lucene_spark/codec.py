"""Posting-block compression kernels (numpy, Arrow-batch friendly).

The reference's block encoder sorts ids, dedups, delta-encodes and writes
VInt gaps per node (``Lucene99AcceleratedHNSWVectorsWriter.java:438-487``);
Lucene's own postings use FOR/PForDelta 128-doc blocks. We implement a
frame-of-reference fixed-width bit packer — fully vectorizable in numpy for
both encode AND decode (VByte decode is inherently sequential in Python),
which is what matters inside Arrow-batched pandas UDFs.

Wire format of one packed array (little header + packbits payload):
    byte 0      : width w in bits (0..64); w==0 → all values equal `base`
    bytes 1..8  : base (min value), little-endian uint64
    bytes 9..12 : count n, little-endian uint32
    bytes 13..  : ceil(n*w/8) bytes of MSB-first bit-packed (v - base)

Block layout & impact metadata: see operators/build.py. 128-doc blocks
(Lucene's block size) with per-block (max_tf, min_dl) — bound-safe inputs to
Block-Max WAND (SURVEY.md §4.3.6: bound ≥ max true score in block).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # Lucene posting block size


def pack_u64(vals: np.ndarray) -> bytes:
    """FOR-pack a uint64 array (values may be any non-negative ints)."""
    vals = np.asarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return bytes([0]) + (0).to_bytes(8, "little") + (0).to_bytes(4, "little")
    base = int(vals.min())
    rel = vals - np.uint64(base)
    mx = int(rel.max())
    w = mx.bit_length()
    header = bytes([w]) + base.to_bytes(8, "little") + n.to_bytes(4, "little")
    if w == 0:
        return header
    # bits[i, j] = j-th most-significant bit of rel[i] (w bits each)
    shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
    bits = ((rel[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return header + np.packbits(bits.ravel()).tobytes()


def unpack_u64(buf: bytes) -> np.ndarray:
    w = buf[0]
    base = int.from_bytes(buf[1:9], "little")
    n = int.from_bytes(buf[9:13], "little")
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if w == 0:
        return np.full(n, base, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8, offset=13))[: n * w]
    weights = (np.uint64(1) << np.arange(w - 1, -1, -1, dtype=np.uint64))
    vals = (bits.reshape(n, w).astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return vals + np.uint64(base)


def encode_gaps(doc_ids: np.ndarray) -> bytes:
    """Delta-gap encode a SORTED ascending doc_id array.

    Stores gaps[0] = doc_ids[0] - first-doc-anchor 0? No: the block row
    carries first_doc explicitly; we store gaps relative to the previous
    docID with gaps[0] = 0, so decode needs first_doc. This mirrors the
    reference's global-id delta encoding (``Lucene99Accelerated...:456-480``)
    with the base held in block metadata rather than the stream.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    gaps = np.diff(doc_ids, prepend=doc_ids[:1])  # first gap 0
    return pack_u64(gaps)


def decode_gaps(buf: bytes, first_doc: int) -> np.ndarray:
    gaps = unpack_u64(buf)
    if len(gaps) == 0:
        return gaps
    out = np.cumsum(gaps, dtype=np.uint64)
    return out + np.uint64(first_doc)


def encode_u32(vals: np.ndarray) -> bytes:
    """Pack small positive ints (tfs, quantized dls)."""
    return pack_u64(np.asarray(vals, dtype=np.uint64))


def decode_u32(buf: bytes) -> np.ndarray:
    return unpack_u64(buf).astype(np.int64)


def unpack_u64_blocks(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized unpack_u64 over many buffers.

    Returns (values, counts): all blocks' values concatenated in input order,
    and the per-block value counts. Full 128-value blocks of equal bit-width
    decode in one unpackbits per width class (the decode twin of
    pack_u64_blocks); ragged tails fall back to scalar unpack_u64.
    """
    nb = len(bufs)
    counts_out = np.zeros(nb, dtype=np.int64)
    if nb == 0:
        return np.empty(0, dtype=np.uint64), counts_out
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=nb)
    offs = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    # 8 trailing zero bytes let the last value's 8-byte window read safely
    arr = np.frombuffer(b"".join(bufs) + b"\x00" * 8, dtype=np.uint8)
    o = offs[:-1]
    w = arr[o].astype(np.int64)
    base = arr[o[:, None] + np.arange(1, 9)].copy().view("<u8").ravel().astype(np.uint64)
    n = arr[o[:, None] + np.arange(9, 13)].copy().view("<u4").ravel().astype(np.int64)
    counts_out[:] = n

    vstarts = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(n, out=vstarts[1:])
    out = np.empty(int(vstarts[-1]), dtype=np.uint64)

    zero_w = w == 0
    if zero_w.any():
        sel = np.flatnonzero(zero_w)
        dest = np.repeat(vstarts[sel], n[sel]) + _within_groups(n[sel])
        out[dest] = np.repeat(base[sel], n[sel])
    for width in np.unique(w[~zero_w]):
        width = int(width)
        sel = np.flatnonzero(w == width)
        if width > 57:  # 8-byte window can't span bitoff+w bits; rare-to-never
            for i in sel:
                out[vstarts[i]: vstarts[i + 1]] = unpack_u64(bufs[i])
            continue
        cnt_s = n[sel]
        within = _within_groups(cnt_s)
        # value j of a block occupies bits [j*w, (j+1)*w) of the MSB-first
        # payload at absolute byte o+13; read an 8-byte big-endian window at
        # its byte offset and shift/mask — no per-bit matrix expansion
        bitpos = within * width
        abs_byte = np.repeat(o[sel] + 13, cnt_s) + (bitpos >> 3)
        bitoff = (bitpos & 7).astype(np.uint64)
        win = arr[abs_byte[:, None] + np.arange(8)]
        win64 = win.copy().view(">u8").ravel()
        vals = (win64.astype(np.uint64) >> (np.uint64(64 - width) - bitoff)) & (
            np.uint64((1 << width) - 1)
        )
        dest = np.repeat(vstarts[sel], cnt_s) + within
        out[dest] = vals + np.repeat(base[sel], cnt_s)
    return out, counts_out


def decode_block_doc_ids(
    first_doc: np.ndarray, doc_gaps: list[bytes]
) -> tuple[np.ndarray, np.ndarray]:
    """Batched docID decode of many posting blocks (the ``doc_gaps`` and
    ``first_doc`` columns of an Arrow batch): (doc_ids int64 concatenated
    in block order, per-block posting counts). Gaps restart per block with
    gap[0] == 0, so each block's running sum minus its first value plus
    first_doc is the block's docIDs."""
    gaps, counts = unpack_u64_blocks(doc_gaps)
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    cs = np.cumsum(gaps, dtype=np.uint64)
    anchor = np.repeat(cs[starts[:-1]], counts)
    first = np.repeat(np.asarray(first_doc).astype(np.uint64), counts)
    return (cs - anchor + first).astype(np.int64), counts


def _bit_length_u64(mx: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 values < 2**53 (exact via log2)."""
    mx = np.asarray(mx, dtype=np.uint64)
    if mx.size and int(mx.max()) >= (1 << 53):  # fall back, exactness of log2 unproven
        return np.array([int(v).bit_length() for v in mx], dtype=np.int64)
    w = np.zeros(len(mx), dtype=np.int64)
    nz = mx > 0
    # log2 is exact at powers of two and floor() is stable in (2^k, 2^{k+1})
    # for doubles below 2^53, so floor(log2(v)) + 1 == bit_length(v)
    w[nz] = np.floor(np.log2(mx[nz].astype(np.float64))).astype(np.int64) + 1
    return w


def _within_groups(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated."""
    tot = int(counts.sum())
    if tot == 0:
        return np.empty(0, dtype=np.int64)
    return np.arange(tot, dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts
    )


def pack_u64_blocks(
    vals: np.ndarray, block_starts: np.ndarray, block_ends: np.ndarray
) -> np.ndarray:
    """Vectorized pack_u64 over many blocks at once; returns object array of
    per-block bytes, byte-identical to ``pack_u64(vals[s:e])``.

    Blocks must tile ``vals`` contiguously (our encoders guarantee this).
    Per-block base/width come from ufunc.reduceat; payload packing runs once
    per distinct bit-width: every block of that width is zero-padded to a
    multiple of 8 VALUES (8·w bits = w bytes, so each block stays
    byte-aligned inside one big packbits), then the per-block payload slice
    is truncated to ceil(count·w/8) bytes — identical bytes to scalar
    pack_u64, because trailing pad bits are zeros there too. This turns the
    encoder from O(#blocks) Python calls into O(#width-classes) numpy ops
    (the reference's per-node encode loop,
    ``Lucene99AcceleratedHNSWVectorsWriter.java:438-487``, has no batching —
    a win our columnar layout gives nearly for free).
    """
    vals = np.asarray(vals, dtype=np.uint64)
    nb = len(block_starts)
    out = np.empty(nb, dtype=object)
    if nb == 0:
        return out
    block_starts = np.asarray(block_starts, dtype=np.intp)
    counts = (np.asarray(block_ends) - block_starts).astype(np.int64)
    base = np.minimum.reduceat(vals, block_starts)
    rel = vals - np.repeat(base, counts)
    mx = np.maximum.reduceat(rel, block_starts)
    w = _bit_length_u64(mx)

    pay_len = (counts * w + 7) // 8
    blk_len = 13 + pay_len
    offs = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(blk_len, out=offs[1:])
    buf = np.zeros(int(offs[-1]), dtype=np.uint8)
    ho = offs[:-1]
    buf[ho] = w
    buf[ho[:, None] + np.arange(1, 9)] = (
        base.astype("<u8").view(np.uint8).reshape(nb, 8)
    )
    buf[ho[:, None] + np.arange(9, 13)] = (
        counts.astype("<u4").view(np.uint8).reshape(nb, 4)
    )

    for width in np.unique(w):
        if width == 0:
            continue  # header-only blocks
        width = int(width)
        sel = np.flatnonzero(w == width)
        cnt_s = counts[sel]
        c8 = ((cnt_s + 7) // 8) * 8
        pstart = np.zeros(len(sel) + 1, dtype=np.int64)
        np.cumsum(c8, out=pstart[1:])
        padded = np.zeros(int(pstart[-1]), dtype=np.uint64)
        within = _within_groups(cnt_s)
        padded[np.repeat(pstart[:-1], cnt_s) + within] = rel[
            np.repeat(block_starts[sel], cnt_s) + within
        ]
        # bit matrix built column-wise into preallocated uint8 (avoids an
        # n×w uint64 intermediate), and CHUNKED so the matrix stays
        # cache-resident (≤ ~1 MB) instead of round-tripping an n×w byte
        # temp through DRAM: per value the memory traffic drops to one
        # streaming read (padded) + one streaming write (packed). Chunks are
        # multiples of 8 values, and every padded block length is too (c8),
        # so each chunk's bitstream is byte-aligned at any width — per-chunk
        # packbits outputs concatenate byte-identically to one global call.
        total = len(padded)
        packed = np.empty(total * width // 8, dtype=np.uint8)
        chunk = 1 << 17
        bits = np.empty((min(chunk, total), width), dtype=np.uint8)
        for c0 in range(0, total, chunk):
            seg = padded[c0:c0 + chunk]
            b = bits[: len(seg)]
            for j in range(width):
                np.bitwise_and(
                    (seg >> np.uint64(width - 1 - j)).astype(np.uint8),
                    np.uint8(1),
                    out=b[:, j],
                )
            packed[c0 * width // 8: (c0 + len(seg)) * width // 8] = (
                np.packbits(b.ravel())
            )
        # copy each block's payload slice (truncated to pay_len) into buf
        pb_start = (pstart[:-1] // 8) * width
        pl = pay_len[sel]
        bwithin = _within_groups(pl)
        buf[np.repeat(ho[sel] + 13, pl) + bwithin] = packed[
            np.repeat(pb_start, pl) + bwithin
        ]

    raw = buf.tobytes()
    for i in range(nb):
        out[i] = raw[offs[i]: offs[i + 1]]
    return out
