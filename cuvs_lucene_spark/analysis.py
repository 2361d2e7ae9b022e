"""Analyzer + norm quantization.

Tokenizer contract (FIXTURES.md §4, fixed analog of Lucene's
``MockTokenizer.SIMPLE`` used by the reference's tests at
``src/test/java/com/nvidia/cuvs/lucene/TestCuVSRandomizedVectorSearch.java:79``):
lowercase, split on ``[^a-z0-9]+``, drop empty tokens. The SAME contract is
implemented three ways — Spark JVM expressions (engine hot path), numpy/pandas
(oracle), and an ANSI-SQL fragment (DuckDB correctness oracle) — and pytest
pins them to each other.

Norms: Lucene BM25 stores per-doc field length lossily quantized to one byte
via ``SmallFloat.intToByte4`` and scores with the DEQUANTIZED length
(SURVEY.md §4.3.1). We replicate the exact int4 encode/decode here; skipping
it yields ~1e-3 score drift and rank flips on ties.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# The single analyzer of the engine. Rank-identity depends on build-time and
# query-time tokenization being IDENTICAL (SURVEY.md §2.7 L1).
TOKEN_PATTERN = "[^a-z0-9]+"

# BM25 constants (Lucene defaults, SURVEY.md §2.7 L5).
BM25_K1 = 1.2
BM25_B = 0.75

# LM Dirichlet smoothing parameter (Lucene LMDirichletSimilarity default mu).
LMD_MU = 2000.0

# LM Jelinek-Mercer mixing weight (Lucene LMJelinekMercerSimilarity lambda;
# the constructor takes it explicitly — 0.1 is the published short-query
# setting from Zhai & Lafferty 2001, which Lucene's own tests use).
LMJM_LAMBDA = 0.1


# ---------------------------------------------------------------------------
# Tokenizer — three rank-identical implementations
# ---------------------------------------------------------------------------

def tokenize_col(col: Column | str) -> Column:
    """JVM-side tokenizer: array<string> of non-empty lowercased tokens.

    Stays inside whole-stage codegen (no Python). NULL text → NULL array
    (callers treat as no tokens; cf. sparse-field handling,
    ``GPUFieldWriter.java:61-63``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_PATTERN), lambda x: x != F.lit(""))


def tokenize_py(text: str | None) -> list[str]:
    """Pure-Python tokenizer (oracle + driver-side query parsing)."""
    import re

    if text is None:
        return []
    return [t for t in re.split(TOKEN_PATTERN, text.lower()) if t]


# DuckDB-SQL fragment producing the identical token array for a column `c`.
def tokenize_sql(c: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'),"
        f" t -> t <> '')"
    )


# ---------------------------------------------------------------------------
# SmallFloat int4 norm quantization (Lucene 10.x semantics)
# ---------------------------------------------------------------------------
# encode: values < 8 are stored as-is ("subnormal"); otherwise keep the top 4
# significant bits: byte = ((shift+1) << 3) | (top-3-bits-below-implicit-msb)
# where shift = bitlength(v) - 4.  decode: subnormal → bits, else
# (bits | 0x08) << shift.  Net effect of decode(encode(v)) for v >= 8:
# clear every bit below the top four.

def small_float_int_to_byte4(v: int) -> int:
    if v < 0:
        raise ValueError("only positive values supported")
    num_bits = int(v).bit_length()
    if num_bits < 4:
        return v
    shift = num_bits - 4
    encoded = (v >> shift) & 0x07
    return encoded | ((shift + 1) << 3)


def small_float_byte4_to_int(b: int) -> int:
    bits = b & 0x07
    shift = (b >> 3) - 1
    if shift == -1:
        return bits
    return (bits | 0x08) << shift


# Lucene's BM25Similarity precomputes LENGTH_TABLE[256] = byte4ToInt(b).
LENGTH_TABLE = np.array(
    [small_float_byte4_to_int(b) for b in range(256)], dtype=np.int64
)


def quantize_dl_np(dl: np.ndarray) -> np.ndarray:
    """Vectorized intToByte4 over an int array (oracle + build kernels)."""
    dl = np.asarray(dl, dtype=np.int64)
    out = dl.copy()
    big = dl >= 8
    if big.any():
        v = dl[big]
        # bit_length via floor(log2) on int64 is exact for v >= 1 when
        # computed with frexp-free integer ops: use np.log2 on float64 is
        # exact for v < 2**53 at powers of two boundaries?  Not guaranteed —
        # compute bit_length exactly with a loop over 63 shifts instead.
        nb = np.zeros_like(v)
        tmp = v.copy()
        while (tmp > 0).any():
            nb += (tmp > 0).astype(np.int64)
            tmp >>= 1
        shift = nb - 4
        out[big] = ((v >> shift) & 0x07) | ((shift + 1) << 3)
    return out


def dequantize_dl_np(dl_q: np.ndarray) -> np.ndarray:
    return LENGTH_TABLE[np.asarray(dl_q, dtype=np.int64)]


def with_quantized_dl(df, dl_col: str, q_col: str = "dl_q", dec_col: str = "dl_d"):
    """Add quantized-norm byte and dequantized length columns, JVM-side.

    For v >= 8, decode(encode(v)) keeps only the top 4 significant bits:
    (v >> shift) << shift with shift = bitlength(v) - 4.
    """
    df = df.withColumn("_nb", F.length(F.conv(F.col(dl_col).cast("string"), 10, 2)))
    df = df.withColumn("_sh", (F.col("_nb") - F.lit(4)).cast("int"))
    df = df.withColumn(
        q_col,
        F.when(F.col(dl_col) < 8, F.col(dl_col).cast("int")).otherwise(
            F.expr(f"cast(shiftleft(_sh + 1, 3) as int) | cast(shiftright({dl_col}, _sh) & 7 as int)")
        ),
    )
    df = df.withColumn(
        dec_col,
        F.when(F.col(dl_col) < 8, F.col(dl_col).cast("long")).otherwise(
            F.expr(f"shiftleft(shiftright({dl_col}, _sh), _sh)")
        ).cast("long"),
    )
    return df.drop("_nb", "_sh")


# DuckDB-SQL fragment: dequantized doc length for integer expression `c`
# (decode∘encode — the value BM25 actually uses).
def dequant_dl_sql(c: str) -> str:
    return (
        f"CASE WHEN {c} < 8 THEN {c} ELSE "
        f"(({c} >> (length(format('{{:b}}', {c})) - 4)) "
        f"<< (length(format('{{:b}}', {c})) - 4)) END"
    )


# ---------------------------------------------------------------------------
# BM25 expressions
# ---------------------------------------------------------------------------

def bm25_term_score_expr(tf: Column, idf: Column, dl_d: Column, avgdl: float) -> Column:
    """Per-term Lucene-10 BM25 score: idf * tf / (tf + k1*(1-b+b*dl/avgdl)).

    (Lucene 8+ dropped the (k1+1) numerator factor — rank-neutral.)
    """
    k = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl_d.cast("double") / F.lit(float(avgdl))
    )
    return idf * tf.cast("double") / (tf.cast("double") + k)


# ---------------------------------------------------------------------------
# Analysis chains (Lucene analyzer-module analogs)
# ---------------------------------------------------------------------------
# The engine's default chain ("standard") is the bare tokenizer above. The
# "english" chain replicates Lucene's EnglishAnalyzer-lite pipeline that the
# reference's Lucene dependency ships [Lucene-10.2.0 analysis-common, via
# pom.xml:42-43]: StopFilter with the classic 33-word English stop set, then
# EnglishMinimalStemFilter (S-stemmer: plural stripping only). Both published
# algorithms, reimplemented here in three pinned twins (python / numpy-over-
# uniques / DuckDB SQL) exactly like the tokenizer itself.
#
# Position semantics match Lucene StopFilter's enablePositionIncrements=true:
# a removed stopword CONSUMES a position (phrase queries across it need the
# gap), but does not count toward the stored field length (norms count only
# tokens that were indexed).

# CharArraySet EnglishAnalyzer.ENGLISH_STOP_WORDS_SET (public, Lucene docs)
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

ANALYZERS = ("standard", "english")


def english_minimal_stem_py(t: str) -> str:
    """EnglishMinimalStemFilter (Lucene analysis-common; published S-stemmer):
    strip plural -s with the ies→y and -us/-ss/-xes-family guards."""
    n = len(t)
    if n < 3 or t[-1] != "s":
        return t
    c = t[-2]
    if c in ("u", "s"):  # -us, -ss keep
        return t
    if c == "e":
        if n > 3 and t[-3] == "i" and t[-4] not in ("a", "e"):
            return t[:-3] + "y"  # -ies -> -y (cities -> city)
        if t[-3] in ("a", "i", "o", "u"):  # -aes/-ies/-oes/-ues keep ('e' NOT
            return t                        # in Lucene's guard: trees->tree)
        return t[:-1]
    return t[:-1]


def english_minimal_stem_np(uniq) -> "np.ndarray":
    """Vectorized-enough twin over a (small) unique-term array: the build
    kernel stems the per-batch DICTIONARY (≤ |vocab ∩ partition| strings),
    never the token stream, so a python loop over uniques is cache-cheap."""
    return np.array([english_minimal_stem_py(t) for t in uniq], dtype=object)


def english_minimal_stem_sql(c: str) -> str:
    """DuckDB twin of english_minimal_stem_py for a varchar expression."""
    return (
        f"CASE WHEN length({c}) < 3 OR {c} NOT LIKE '%s' THEN {c} "
        f"WHEN substr({c}, -2, 1) IN ('u','s') THEN {c} "
        f"WHEN substr({c}, -2, 1) = 'e' THEN ("
        f"  CASE WHEN length({c}) > 3 AND substr({c}, -3, 1) = 'i' "
        f"            AND substr({c}, -4, 1) NOT IN ('a','e') "
        f"       THEN substr({c}, 1, length({c}) - 3) || 'y' "
        f"       WHEN substr({c}, -3, 1) IN ('a','i','o','u') THEN {c} "
        f"       ELSE substr({c}, 1, length({c}) - 1) END) "
        f"ELSE substr({c}, 1, length({c}) - 1) END"
    )


def analyze_py(text: str | None, analyzer: str = "standard") -> list[str]:
    """Query-side analysis: tokenize, then apply the chain. Returns the
    SURVIVING terms only (no position info — use analyze_with_offsets for
    phrase queries, where stopword gaps matter)."""
    return [t for t, _o in analyze_with_offsets(text, analyzer)]


def analyze_with_offsets(
    text: str | None, analyzer: str = "standard"
) -> list[tuple[str, int]]:
    """(term, position) pairs after the chain; positions count REMOVED
    stopwords (Lucene posInc semantics), so "big the dog" analyzes to
    [(big, 0), (dog, 2)] under "english" and an exact PhraseQuery requires
    the same gap in the document."""
    if analyzer not in ANALYZERS:
        raise ValueError(f"unknown analyzer {analyzer!r} (have {ANALYZERS})")
    toks = tokenize_py(text)
    if analyzer == "standard":
        return [(t, i) for i, t in enumerate(toks)]
    out: list[tuple[str, int]] = []
    for i, t in enumerate(toks):
        if t in ENGLISH_STOP_WORDS:
            continue  # consumes position i, emits nothing
        out.append((english_minimal_stem_py(t), i))
    return out


def analyze_sql_toks(c: str, analyzer: str = "standard") -> str:
    """DuckDB fragment: the analyzed token array for text column `c` —
    the oracle twin of the BUILD-side chain. NOTE dl under "english" is the
    LENGTH OF THIS LIST (stopwords don't count toward norms), while phrase
    positions come from analyze_sql_tokpos below."""
    base = tokenize_sql(c)
    if analyzer == "standard":
        return base
    stop_list = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    stemmed = f"list_transform({base}, t -> {english_minimal_stem_sql('t')})"
    # stem AFTER stop-removal, like the python chain (stemming never produces
    # a stopword from a non-stopword under this stemmer, but order is pinned)
    return (
        f"list_transform(list_filter({base}, t -> t NOT IN ({stop_list})), "
        f"t -> {english_minimal_stem_sql('t')})"
    )
