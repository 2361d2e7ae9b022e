"""Top-k BM25 query engine (SURVEY.md §3.3 re-expression).

Every query kind here, in booleanq.py and in spans.py runs the same four
shared pieces, each written once:
  seek   — ``IndexReader._seek_postings``: the term-dictionary seek, a
           postings scan pruned by (bucket partition, field, term) after a
           driver-side dictionary lookup (``term_stats``: global df/cf summed
           across segments, cached per snapshot);
  score  — ``IndexReader.term_weight`` (the per-term Similarity statistic)
           and ``_score_postings`` (the Arrow-batched decode+score kernel,
           exact Lucene float semantics shared with the oracle); phrase and
           span queries swap in their positional kernels;
  mask   — ``_live_docs``: the liveDocs mask, applied to per-doc rows in one
           order — tombstones (broadcast anti-join), the filter_cond
           pre-filter (semi-join), MUST_NOT (anti-join);
  top-k  — ``_finish_topk``: ORDER BY score DESC, doc_id ASC LIMIT k
           (TakeOrderedAndProject = the IndexSearcher global TopDocs merge
           with docID tie-break, SURVEY §4.3.3), then a broadcast join of
           the k rows to doc_dim.
Bag-of-words queries pivot per-term scores into a deterministic float64
sum (``_finish``) between mask and top-k.

Phrase, span, SpanOr and synonym queries add five positional pieces, each
also written once and shared by query.py, spans.py and booleanq.py:
  occurrences — ``_positional_doc_scores``' one call of
           make_phrase_occ_kernel: seeked positional blocks → (doc, slot,
           adj = pos - slot) rows, then the mask (``_require_positions``
           guards every positional entry);
  conjunction — ``_conjunction``: the two-phase approximation, docs holding
           a present term of every required slot, from a position-free
           pass (term → array of slots, explode, count distinct);
  sweep  — one repartition(doc) + make_sloppy_sweep_kernel running the
           query's frequency function (sloppy phrase, ordered/unordered
           span, contain, filtered term span) per doc; the exact phrase
           counts full anchors with two groupBys instead;
  pseudo-term score — ``_pseudo_term_scores``: pf scored through
           analysis.bm25_term_score_expr with the doc's norm (for SpanOr and
           synonym, ``_summed_tf_scores`` sums tfs and decodes the norm with
           ``_dequant_dl_col``, the one JVM norm decode);
  top-k entry — ``_positional_topk``: the empty/k guards, the k cap and the
           tombstones in front of _finish_topk for all seven searches.

Two scoring paths, verified equal by pytest (SURVEY §4.3.6):
  * exhaustive — decode every matching block (the brute-force engine,
    reference analog ``CuVS2510GPUVectorsWriter.java:286-298``)
  * block-max pruned — a distributed, bound-safe Block-Max WAND variant:
    phase 1 exactly scores the top-m blocks per term by upper bound to obtain
    a threshold θ (k-th best total); phase 2 decodes only blocks whose
    bound_t(block) + Σ_{t'≠t} UB(t') > θ.  Bounds come from per-block
    (max_tf, min_dl_d) impacts, which dominate every true score in the block.
"""

from __future__ import annotations

import logging
from collections import Counter
from collections.abc import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from cuvs_lucene_spark.analysis import (
    BM25_B,
    BM25_K1,
    LMD_MU,
    LMJM_LAMBDA,
    bm25_term_score_expr,
    tokenize_py,
)
from cuvs_lucene_spark.codec import decode_block_doc_ids, unpack_u64_blocks
from cuvs_lucene_spark.operators.deletes import deleted_doc_ids
from cuvs_lucene_spark.operators.merge import decode_postings
from cuvs_lucene_spark.oracle import dequantize_dl_np
from cuvs_lucene_spark.sources.catalog import IndexCatalog

# The exact input columns make_score_kernel reads. Projected explicitly before
# every mapInPandas so Arrow ships ONLY these: without the projection Spark
# transfers the full postings schema — including the `pos` positional payload
# (comparable in bytes to all other streams combined on a positions=True
# index) plus unused block stats — to Python on every non-phrase query.
# Reference analog: lazy per-field slice loading,
# CuVS2510GPUVectorsReader.java:239-265.
SCORE_KERNEL_COLS = ["term", "first_doc", "doc_gaps", "tfs", "dls"]

log = logging.getLogger(__name__)

# Selectivity gate for prune="auto": block-max pruning costs a fixed overhead
# (persist + two extra driver actions + a window shuffle over block metadata +
# exact re-scoring of the densest blocks) before the main scan starts; it only
# pays when it can skip decoding MANY postings. Below this many candidate
# postings (Σ df over query terms) the exhaustive scan finishes before
# pruning's fixed costs do, so auto mode skips pruning — the same shape as the
# reference gating engine choice on k (CuVS2510GPUVectorsReader.java:339,363).
# At the north rule's 10^12-turn scale any real query clears this threshold.
PRUNE_MIN_POSTINGS = 2_000_000

# search() knobs under which prune=True is refused, with the reason the
# block-max θ is unsound for each; prune="auto" quietly stays exhaustive.
_PRUNE_UNSOUND = (
    ("parent_by", "θ from the child ranking can prune a parent's only child"),
    ("group_by", "global θ vs per-group top-k"),
    ("collapse_by",
     "θ from the uncollapsed ranking can prune a group representative"),
    ("boost_by", "block-max θ bounds the UNboosted score"),
    ("msm>1", "phase-1 θ would include docs failing the match minimum"),
)

RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("score", FloatType()),
        StructField("n_terms_matched", IntegerType()),
    ]
)

SCORE_ROWS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("tidx", IntegerType()),  # index into the sorted term list
        StructField("score", DoubleType()),  # float32 value widened for exact sum
    ]
)


# driver-side term-stats (TermStates) cache: {(snap_key, field): {term: (df,
# bucket, cf)}}. Bounded: at most _TERM_CACHE_MAX_KEYS snapshots
# (insertion-order eviction — reopening after compaction ages out the old
# snapshot) and _TERM_CACHE_MAX_TERMS terms per snapshot. Absent terms are
# cached as (0, -1, 0). Safe under deletes: tombstones never change df or cf
# (SURVEY §4.3.2).
_TERM_STATS_CACHE: dict[tuple, dict[str, tuple[int, int, int]]] = {}
_TERM_CACHE_MAX_KEYS = 8
_TERM_CACHE_MAX_TERMS = 65536


# the pluggable Similarity registry (IndexSearcher.setSimilarity analog).
# Validated UP FRONT at every query entry point: a typo like "lmdir" must
# fail with an explicit error before any term-stats or analysis work runs,
# not by falling through to the BM25/classic branch deep in a kernel.
KNOWN_SIMILARITIES = ("bm25", "classic", "lmd", "lmjm")


def _check_similarity(similarity: str) -> None:
    if similarity not in KNOWN_SIMILARITIES:
        raise ValueError(
            f"unknown similarity {similarity!r}; expected one of "
            f"{', '.join(KNOWN_SIMILARITIES)}"
        )


def _term_stats_cache(snap_key, field: str) -> dict[str, tuple[int, int, int]]:
    key = (snap_key, field)
    cache = _TERM_STATS_CACHE.get(key)
    if cache is None:
        while len(_TERM_STATS_CACHE) >= _TERM_CACHE_MAX_KEYS:
            _TERM_STATS_CACHE.pop(next(iter(_TERM_STATS_CACHE)))
        cache = _TERM_STATS_CACHE[key] = {}
    return cache


class IndexReader:
    """Query-time handle: manifest + global stats + lazy table refs.

    Every query targets exactly ONE indexed field (Lucene TermQuery =
    (field, term); per-field index entries, reference analog
    ``CuVS2510GPUVectorsWriter.java:335-352``). ``fields[0]`` is the primary
    field and the default for every query entry point; ``field_stats_of``
    serves each field's own collection stats (docCount, avgdl)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        version: int | None = None,
        catalog=None,
    ):
        # version=N opens a point-in-time reader pinned to historical commit
        # N (Lucene DirectoryReader.open(IndexCommit) analog): segment set,
        # collection stats AND tombstones are the pinned commit's.
        # catalog= supplies a prebuilt catalog (MultiIndexCatalog for
        # federated MultiReader search — see multireader.py); index_dir is
        # then ignored.
        self.spark = spark
        self.cat = catalog if catalog is not None else IndexCatalog(
            index_dir, version=version
        )
        # open-time validation: format version, codec tag, per-segment table
        # dirs, bucket layout (CorruptIndexException analog — raises
        # catalog.CorruptIndexError instead of trusting the manifest blindly)
        self.manifest = self.cat.validate_for_read()
        self.fields = (
            list(self.manifest["segments"][0].get("fields", ["text"]))
            if self.manifest["segments"]
            else ["text"]
        )
        # the index's analysis chain: query text must be analyzed with the
        # SAME chain the build used (build_segment pins it across segments)
        self.analyzer = (
            self.manifest["segments"][0].get("analyzer", "standard")
            if self.manifest["segments"]
            else "standard"
        )
        self.n_docs, self.sum_dl, self.avgdl = self.cat.global_stats()
        # snapshot identity for the driver-side term-stats cache: the segment
        # set (ids + run lineage) plus the manifest COMMIT identity (version
        # counter + commit timestamp). The commit identity matters because
        # run_id is caller-suppliable: deleting and rebuilding an index at the
        # same path with a fixed run_id reproduces (id, run_id) exactly and
        # would otherwise serve stale df/bucket values from the process-global
        # cache. Deletes are tombstones and do not alter df (Lucene likewise
        # keeps df of deleted docs until merge); compaction replaces segment
        # ids AND bumps the manifest version.
        self._snap_key = (
            self.cat.index_dir,
            self.manifest.get("version"),
            self.manifest.get("committed_at"),
            tuple(
                (s["id"], s.get("run_id")) for s in self.manifest["segments"]
            ),
        )

    def open_if_changed(self) -> "IndexReader | None":
        """``DirectoryReader.openIfChanged`` analog: a NEW reader over the
        live snapshot iff a commit landed since this reader opened (or this
        reader is pinned to a non-live commit); None when this reader is
        already current. Cheap — one manifest read, no table I/O; the
        driver-side term-stats/DataFrame caches key on the snapshot, so the
        old and new readers never share stale state. Works for federated
        MultiReader handles too (any sub-index commit triggers a reopen)."""
        fresh = self.cat.reopen()
        live = fresh.read_manifest()
        if (live.get("version"), live.get("committed_at")) == (
            self.manifest.get("version"),
            self.manifest.get("committed_at"),
        ):
            return None
        return IndexReader(self.spark, self.cat.index_dir, catalog=fresh)

    def analyze(self, text: str | None) -> list[str]:
        """Query-side analysis with the index's chain (surviving terms)."""
        from cuvs_lucene_spark.analysis import analyze_py

        return analyze_py(text, self.analyzer)

    def analyze_with_offsets(self, text: str | None) -> list[tuple[str, int]]:
        """(term, position) pairs — positions count removed stopwords
        (Lucene posInc), the input to gapped exact-phrase matching."""
        from cuvs_lucene_spark.analysis import analyze_with_offsets

        return analyze_with_offsets(text, self.analyzer)

    def doc_dim_view(self, spark: SparkSession | None = None) -> DataFrame:
        """doc_dim with every committed numeric doc-values field overlaid
        (operators/docvalues.py — the updateNumericDocValue analog): each DV
        field becomes a column, updated keys carry their newest committed
        value (last-write-wins by commit version), everything else the
        field's default. With no DV updates this IS the cached doc_dim —
        zero extra plan nodes. Overlays broadcast (they are small relative
        to the corpus, like Lucene's dv-generation files), so doc_dim never
        reshuffles. Point-in-time readers overlay the DV state of their
        pinned commit. Federated MultiReader catalogs expose no DV overlay
        (base doc_dim only)."""
        from cuvs_lucene_spark.operators.docvalues import read_doc_values

        s = spark or self.spark
        dd = self.cat.read_doc_dim(s)
        fields_fn = getattr(self.cat, "dv_fields", None)
        for name, meta in sorted((fields_fn() if fields_fn else {}).items()):
            ov = read_doc_values(s, self.cat, name)
            if ov is None:
                continue
            ov = ov.withColumnRenamed("value", f"_dv_{name}")
            dd = (
                dd.join(F.broadcast(ov), ["conv_id", "turn_idx"], "left")
                .withColumn(
                    name,
                    F.coalesce(
                        F.col(f"_dv_{name}"), F.lit(float(meta["default"]))
                    ),
                )
                .drop(f"_dv_{name}")
            )
        return dd

    def resolve_field(self, field: str | None) -> str:
        fld = field or self.fields[0]
        if self.manifest["segments"] and fld not in self.fields:
            raise ValueError(
                f"field {fld!r} is not indexed (index fields: {self.fields})"
            )
        return fld

    def field_stats_of(self, field: str) -> tuple[int, int, float]:
        """(n_docs, sum_dl, avgdl) of one field — Lucene CollectionStatistics."""
        if field == self.fields[0]:
            return self.n_docs, self.sum_dl, self.avgdl
        return self.cat.global_stats(field)

    def term_stats(
        self, terms: list[str], field: str | None = None
    ) -> dict[str, tuple[int, int, int]]:
        """{term: (global df, bucket, global cf)} for ONE field in ONE tiny
        job — df and cf (totalTermFreq) summed across segments (Lucene
        computes idf at IndexSearcher level, not per-segment — SURVEY
        §4.3.2); bucket rides along so query planning needs no second hash
        job (it is identical across segments by construction). cf feeds the
        LM Dirichlet collection probability; BM25/classic ignore it. The
        per-segment dictionary rows (at most terms × segments) are summed on
        the driver: a Spark aggregate would add a second job."""
        if not terms or not self.manifest["segments"]:
            return {}
        fld = self.resolve_field(field)
        # driver-side TermStates cache (Lucene caches term seek state per
        # reader the same way): keyed by snapshot identity + field, with
        # NEGATIVE entries for absent terms so hot queries with typos don't
        # re-seek either. One dictionary-seek job only for cache misses.
        cache = _term_stats_cache(self._snap_key, fld)
        missing = [t for t in terms if t not in cache]
        if missing:
            rows = (
                self.cat.read_dictionary(self.spark)
                .where((F.col("field") == fld) & F.col("term").isin(missing))
                .select("term", "df", "bucket", "cf")
                .collect()
            )
            found: dict[str, tuple[int, int, int]] = {}
            for t, df, bucket, cf in rows:
                f_df, f_bucket, f_cf = found.get(t, (0, bucket, 0))
                found[t] = (f_df + df, min(f_bucket, bucket), f_cf + cf)
            if len(cache) + len(missing) <= _TERM_CACHE_MAX_TERMS:
                for t in missing:
                    cache[t] = found.get(t, (0, -1, 0))  # (0,-1,0) = absent
            return {
                **{t: cache[t] for t in terms if cache.get(t, (0, -1))[1] >= 0},
                **found,
            }
        return {t: cache[t] for t in terms if cache[t][1] >= 0}

    def _seek_postings(
        self, terms: list[str], field: str, stats: dict
    ) -> DataFrame:
        """The term-dictionary seek: postings rows of ``terms`` (each
        present in ``stats``, the term_stats result) in ``field``, pruned to
        the terms' bucket partitions before the term predicate. The term
        IN-list keeps the caller's order."""
        return self.cat.read_postings(self.spark).where(
            F.col("bucket").isin(sorted({stats[t][1] for t in terms}))
            & (F.col("field") == field)
            & F.col("term").isin(terms)
        )

    def idf(self, df: int, n_docs: int | None = None) -> float:
        n = self.n_docs if n_docs is None else n_docs
        return float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))

    def term_weight(
        self,
        term_stats: tuple[int, int, int],
        field_stats: tuple[int, int, float],
        similarity: str = "bm25",
    ) -> float:
        """Per-term query statistic under the chosen Similarity, from the
        term's ``term_stats`` entry (df, bucket, cf) and its field's
        ``field_stats_of`` (docCount, sumTotalTermFreq, avgdl) — the inputs
        Lucene's Similarity reads (TermStatistics, CollectionStatistics).

        bm25    — the BM25 idf (Lucene BM25Similarity).
        classic — idf'² with idf' = 1 + ln((N+1)/(df+1)): Lucene
            TFIDFSimilarity ("ClassicSimilarity") squares the idf because it
            appears in both the query weight and the field weight (coord and
            queryNorm were removed in Lucene 7+, so the modern classic score
            is boost · idf'² · √tf · 1/√dl).
        lmd/lmjm — the collection probability p_c = (cf+1)/
            (sumTotalTermFreq+1) (Lucene LMSimilarity.fillBasicStats): the
            LM Similarities score against the collection language model,
            not an idf.
        """
        df, _bucket, cf = term_stats
        n, sum_dl, _avgdl = field_stats
        if similarity == "bm25":
            return self.idf(df, n)
        if similarity == "classic":
            i = 1.0 + float(np.log((n + 1) / (df + 1)))
            return i * i
        if similarity in ("lmd", "lmjm"):
            return (cf + 1.0) / (sum_dl + 1.0)
        raise ValueError(f"unknown similarity {similarity!r}")

def make_score_kernel(
    term_meta: dict[str, tuple[float, int]], avgdl: float, float32: bool = True,
    similarity: str = "bm25", k1: float = BM25_K1, b: float = BM25_B,
):
    """mapInPandas kernel: posting blocks → (doc_id, tidx, per-term score).

    term_meta: term -> (idf, query_weight). float32=True replicates Lucene's
    per-term float arithmetic exactly, matching oracle.oracle_search (per-term
    float32; callers sum in float64 and cast back — DisjunctionSumScorer
    shape, SURVEY §4.3.4). float32=False computes in float64 throughout (the
    DuckDB-oracle-parity mode used by __spark_entry__). tidx is the term's
    rank in sorted(term_meta): _finish sums per-doc scores in that FIXED
    order, so the float64 total is deterministic run-to-run and equals the
    oracle's identically-ordered sum (exact ties at the k-boundary would
    otherwise split on last-ULP summation-order noise — observed live with 4
    docs tied at rank 9-12).
    """
    tidx_of = {t: i for i, t in enumerate(sorted(term_meta))}

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # batched decode of every block in the Arrow batch (one
            # unpackbits per width class, no per-row Python)
            doc_ids, counts = decode_block_doc_ids(
                pdf["first_doc"].to_numpy(), list(pdf["doc_gaps"])
            )
            tfs, _ = unpack_u64_blocks(list(pdf["tfs"]))
            dlqs, _ = unpack_u64_blocks(list(pdf["dls"]))

            meta = np.array(
                [term_meta[t] for t in pdf["term"]], dtype=np.float64
            )  # (nb, 2): idf, weight
            idf_v = np.repeat(meta[:, 0], counts)
            w_v = np.repeat(meta[:, 1], counts)
            ti = np.repeat(
                np.array([tidx_of[t] for t in pdf["term"]], dtype=np.int32),
                counts,
            )

            dl_d = dequantize_dl_np(dlqs.astype(np.int64))
            ftype = np.float32 if float32 else np.float64
            tff = tfs.astype(ftype)
            dlf = dl_d.astype(ftype)
            if similarity == "classic":
                # TFIDFSimilarity: weight(=idf'²·boost, precomputed) · √tf ·
                # 1/√dl — same quantized norms as BM25 (Lucene stores ONE
                # norm per doc; both sims dequantize it identically)
                s = (
                    idf_v.astype(ftype) * np.sqrt(tff) / np.sqrt(dlf)
                ).astype(ftype)
            elif similarity == "lmd":
                # LMDirichletSimilarity (published formula; Zhai & Lafferty
                # 2001): per matched term
                #   max(0, ln(1 + tf/(mu·p_c)) + ln(mu/(dl+mu)))
                # with p_c = (cf+1)/(sumTotalTermFreq+1) precomputed by
                # search() and carried in meta[0] (idf_v). The clamp is
                # Lucene's (scores are non-negative); dl is the same
                # dequantized norm every Similarity reads.
                mu = ftype(LMD_MU)
                pc = idf_v.astype(ftype)
                s = np.log1p(tff / (mu * pc)) + np.log(mu / (dlf + mu))
                s = np.maximum(s, ftype(0.0)).astype(ftype)
            elif similarity == "lmjm":
                # LMJelinekMercerSimilarity (Zhai & Lafferty 2001):
                #   ln(1 + ((1-λ)·tf/dl) / (λ·p_c))
                # — always positive, no clamp needed; same p_c in meta[0].
                lam = ftype(LMJM_LAMBDA)
                pc = idf_v.astype(ftype)
                s = np.log1p(
                    ((ftype(1.0) - lam) * tff / dlf) / (lam * pc)
                ).astype(ftype)
            else:
                # k1/b default to the Lucene constants; BM25Similarity(k1, b)
                # parametrization threads them per-search
                kf = ftype(k1) * (
                    ftype(1.0 - b) + ftype(b) * dlf / ftype(avgdl)
                )
                s = (idf_v.astype(ftype) * tff / (tff + kf)).astype(ftype)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "tidx": ti,
                    "score": s.astype(np.float64) * w_v,
                }
            )

    return score


def _score_postings(
    postings: DataFrame, term_meta: dict[str, tuple[float, int]],
    avgdl: float, float32: bool = True, similarity: str = "bm25",
    k1: float = BM25_K1, b: float = BM25_B,
) -> DataFrame:
    """Score rows (doc_id, tidx, score) of seeked postings through the
    narrow score kernel (SCORE_KERNEL_COLS only reach Python)."""
    return postings.select(*SCORE_KERNEL_COLS).mapInPandas(
        make_score_kernel(term_meta, avgdl, float32, similarity, k1=k1, b=b),
        SCORE_ROWS_SCHEMA,
    )


def _live_docs(
    rows: DataFrame,
    rd: IndexReader,
    del_ids: DataFrame | None,
    filter_cond: Column | str | None = None,
    ex_ids: DataFrame | None = None,
) -> DataFrame:
    """The liveDocs mask over per-doc rows (any frame with a doc_id
    column), in one order for every query path: tombstones (``del_ids``, a
    broadcast anti-join — deletes are small next to the corpus), then the
    ``filter_cond`` pre-filter (semi-join on the cached accepted ids), then
    MUST_NOT (``ex_ids``, anti-join)."""
    if del_ids is not None:
        rows = rows.join(F.broadcast(del_ids), "doc_id", "left_anti")
    if filter_cond is not None:
        rows = rows.join(_accepted_doc_ids(rd, filter_cond), "doc_id", "left_semi")
    if ex_ids is not None:
        rows = rows.join(ex_ids, "doc_id", "left_anti")
    return rows


def _empty_hits(spark: SparkSession, float32: bool = True) -> DataFrame:
    """The hit schema (doc_id, score, conv_id, turn_idx) with no rows."""
    out_t = "float" if float32 else "double"
    return spark.createDataFrame(
        [], f"doc_id long, score {out_t}, conv_id string, turn_idx int"
    )


def _finish_topk(
    spark: SparkSession,
    rd: IndexReader,
    scored: DataFrame | None,
    k: int,
    float32: bool = True,
) -> DataFrame:
    """The shared top-k tail: per-doc float64 ``score_d`` cast to the output
    type, the top k by (score desc, doc_id asc), then a broadcast join of
    those k rows to doc_dim. None (provably no match) → the empty hits."""
    if scored is None:
        return _empty_hits(spark, float32)
    out_t = "float" if float32 else "double"
    topk = (
        scored.select("doc_id", F.col("score_d").cast(out_t).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    dd = rd.cat.read_doc_dim(spark).select("doc_id", "conv_id", "turn_idx")
    return (
        F.broadcast(topk)
        .join(dd, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _excluded_doc_ids(
    rd: IndexReader, exclude: str | None, fld: str
) -> DataFrame | None:
    """MUST_NOT (BooleanQuery exclusion): the excluded terms' docID union as
    a DataFrame for a left-anti join, or None when nothing is excluded or no
    excluded term exists in the index. No broadcast hint — an excluded hot term's doc set can be
    huge; AQE promotes small ones to broadcast. Positions/payload never
    read: decode_postings projects them away."""
    if not exclude:
        return None
    ex_terms = sorted(set(rd.analyze(exclude)))
    ex_stats = rd.term_stats(ex_terms, fld)
    ex_present = [t for t in ex_terms if ex_stats.get(t, (0, 0))[0] > 0]
    if not ex_present:
        return None
    return (
        decode_postings(rd._seek_postings(ex_present, fld, ex_stats))
        .select("doc_id")
        .distinct()
    )


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    mode: str = "or",
    filter_cond: Column | str | None = None,
    prune: bool | str = False,
    prune_blocks_per_term: int = 8,
    reader: IndexReader | None = None,
    float32: bool = True,
    after: tuple[float, int] | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
    group_by: str | None = None,
    collapse_by: str | None = None,
    similarity: str = "bm25",
    boost_by: Column | str | None = None,
    parent_by: str | None = None,
    score_mode: str = "max",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 search returning (doc_id, score, conv_id, turn_idx).

    field — which indexed field to search (default: the index's primary
        field). Scoring uses THAT field's collection stats (docCount for idf,
        avgdl for length normalization) — Lucene per-field semantics.
    mode='or'  — Lucene BooleanQuery SHOULD semantics (disjunctive top-k)
    mode='and' — conjunctive: doc must match every distinct query term
    exclude — terms whose presence DISQUALIFIES a doc (BooleanQuery MUST_NOT:
        no score contribution, pure doc-level exclusion). Implemented as a
        broadcast anti-join of the excluded terms' docID sets, applied in
        every path including the block-max phase-1 θ (an excluded doc's
        score must not inflate the prune threshold — same rule as deletes).
    msm — minimum_should_match for mode='or': keep only docs matching at
        least `msm` distinct query terms (Lucene BooleanQuery msm). msm>1
        disables block-max pruning: θ derived from partial sums of docs that
        may fail the msm constraint would overestimate the true k-th best
        and make the prune unsound — the same reason AND mode is exhaustive.
    filter_cond — predicate over doc_dim columns (role, ts, conv_id, ...),
        applied as an exact PRE-filter semi-join (replaces the reference's
        k×10 over-sampling post-filter, ``CuVS2510GPUVectorsReader.java:313``).
    prune=True — block-max pruned path (verified == exhaustive by pytest);
        prune="auto" engages it only when Σ df of the query terms exceeds
        PRUNE_MIN_POSTINGS, i.e. when the exhaustive decode is big enough for
        pruning's fixed overhead to pay (reference analog: engine choice gated
        on k, ``CuVS2510GPUVectorsReader.java:339``).
    after=(score, doc_id) — pagination cursor (IndexSearcher.searchAfter
        analog): pass the LAST hit of the previous page exactly as this
        function returned it; the result is the next k hits in
        (score desc, doc_id asc) order. Composes with prune: the block-max
        phase 1 then derives a PAGE-LOCAL θ from docs provably past the
        cursor (doc's total upper bound < cursor score), so pruning never
        drops a page-2 hit — see _prune_blocks.
    group_by — a doc_dim column name: return the top-k hits PER GROUP instead
        of globally (the Lucene grouping-module analog — TopGroups over a
        first-pass GroupingSearch). Output gains a leading `group` column and
        a per-group `grp_rank`; k means k-per-group; ordered (group asc,
        score desc, doc_id asc). Incompatible with `after` (Lucene grouping
        has no searchAfter either) and with prune=True: a global θ from the
        overall k-th best is unsound per group — a sparse group's k-th best
        can sit far below it — so prune="auto" silently stays exhaustive.
    collapse_by — a doc_dim column name: FIELD COLLAPSING (the Lucene
        CollapsingTopDocsCollector / Solr collapse analog). Keep only the
        single best-scoring hit per distinct value of the column (tie-break
        doc_id asc), then return the global top-k of those representatives —
        "one result per conversation". Output gains a trailing column named
        after the collapse key. Composes with `after` (the cursor addresses
        the COLLAPSED ranking, so the filter applies post-collapse).
        prune=True raises: the block-max θ derives from the UNcollapsed
        ranking, whose k-th best ≥ the collapsed k-th best, so pruning could
        drop a representative; prune="auto" silently stays exhaustive.
    similarity — per-search Similarity (the Lucene
        IndexSearcher.setSimilarity analog): "bm25" (default,
        BM25Similarity), "classic" (TFIDFSimilarity: idf'² · √tf · 1/√dl
        with idf' = 1 + ln((N+1)/(df+1)), over the SAME stored quantized
        norms), "lmd" (LMDirichletSimilarity: per matched term
        max(0, ln(1 + tf/(μ·p_c)) + ln(μ/(dl+μ))), μ=2000,
        p_c = (cf+1)/(sumTotalTermFreq+1) from the dictionary's cf column),
        or "lmjm" (LMJelinekMercerSimilarity:
        ln(1 + ((1−λ)·tf/dl)/(λ·p_c)), λ=0.1).
    k1, b — BM25 free parameters (Lucene BM25Similarity(k1, b); defaults are
        the Lucene defaults 1.2/0.75). Only read when similarity="bm25";
        threaded into both the scoring kernel and the block-max bound, so
        tuned-parameter searches prune losslessly too.
        All compose with pruning: each block upper bound is monotone in the
        same per-block (max_tf, min_dl_d) stats BM25's bound uses, so
        block-max pruning stays lossless.
    boost_by — a Column (or SQL string) over doc_dim columns multiplied into
        every matching doc's float64 score BEFORE top-k selection — the
        Lucene FunctionScoreQuery / DoubleValuesSource analog (e.g. a
        recency decay over `ts`, or `1.0 + turn_idx/100.0`). Applied after
        the deterministic pivot sum and before the `after` cursor filter, so
        pagination addresses the BOOSTED ranking. prune=True raises: the
        block-max θ bounds the UNboosted score, so any boost > 1 could
        prune a true hit; prune="auto" silently stays exhaustive. Composes
        with group_by/collapse_by (boost happens first).
    parent_by — a doc_dim column naming the PARENT entity of each hit (for
        transcripts: `conv_id`): return the top-k PARENTS instead of turns —
        the Lucene join-module ToParentBlockJoinQuery analog
        [Lucene-10.2.0, via pom.xml:42-43], where child hits (turns) roll up
        to their parent (conversation) under `score_mode`. Output schema
        becomes (<parent_by>, score, n_hits) with n_hits = the parent's
        matching-child count. score_mode ∈ {'max','min','total','avg'} =
        Lucene ScoreMode: the parent score is the max / min / sum / mean of
        its children's float64 scores. 'total'/'avg' sums are made
        order-independent (hence deterministic under Spark's nondeterministic
        shuffle arrival) by summing the children as DECIMAL(38,10) — the
        per-child float64 scores are already bit-exact (pivoted), so the
        decimal total is reproducible run-to-run and matches the SQL oracle
        exactly. Mutually exclusive with group_by/collapse_by/after;
        prune=True raises (the block-max θ derives from the CHILD ranking —
        parents dedupe children, so the parent k-th best can sit below the
        child θ and a representative child could be pruned);
        prune="auto" silently stays exhaustive.
    """
    _check_similarity(similarity)
    rd = reader or IndexReader(spark, index_dir)
    if parent_by is not None:
        if score_mode not in ("max", "min", "total", "avg"):
            raise ValueError("score_mode must be one of max|min|total|avg")
        if group_by is not None or collapse_by is not None:
            raise ValueError(
                "parent_by is mutually exclusive with group_by/collapse_by"
            )
        if after is not None:
            raise ValueError("parent_by does not compose with after= pagination")
    if group_by is not None and collapse_by is not None:
        raise ValueError("group_by and collapse_by are mutually exclusive")
    if group_by is not None and after is not None:
        raise ValueError("group_by does not compose with after= pagination")
    knob_set = {
        "parent_by": parent_by is not None,
        "group_by": group_by is not None,
        "collapse_by": collapse_by is not None,
        "boost_by": boost_by is not None,
        "msm>1": msm is not None and msm > 1,
    }
    for knob, why in _PRUNE_UNSOUND:
        if knob_set[knob]:
            if prune is True:
                raise ValueError(
                    f"prune=True with {knob} is unsound ({why}); use "
                    "prune='auto' or prune=False"
                )
            prune = False
    score_t = "float" if float32 else "double"
    if parent_by is not None:
        par_t = (
            dict(rd.cat.read_doc_dim(spark).dtypes)[parent_by]
            if rd.manifest["segments"]
            else "string"
        )
        empty = spark.createDataFrame(
            [], f"`{parent_by}` {par_t}, score {score_t}, n_hits long"
        )
    elif group_by is None and collapse_by is None:
        empty = _empty_hits(spark, float32)
    elif collapse_by is not None:
        # the collapse key is appended unless it is already a base column
        # (collapsing by conv_id — "one hit per conversation" — is the
        # canonical use and must not duplicate the column)
        extra = ""
        if collapse_by not in ("doc_id", "conv_id", "turn_idx"):
            col_t = (
                dict(rd.cat.read_doc_dim(spark).dtypes)[collapse_by]
                if rd.manifest["segments"]
                else "string"
            )
            extra = f", `{collapse_by}` {col_t}"
        empty = spark.createDataFrame(
            [],
            f"doc_id long, score {score_t}, conv_id string, turn_idx int"
            + extra,
        )
    else:
        # grouped output carries the group column under its own name; its
        # type comes from doc_dim's schema (metadata-only when segments exist)
        grp_t = (
            dict(rd.cat.read_doc_dim(spark).dtypes)[group_by]
            if rd.manifest["segments"]
            else "string"
        )
        empty = spark.createDataFrame(
            [],
            f"`{group_by}` {grp_t}, grp_rank int, doc_id long, "
            f"score {score_t}, conv_id string, turn_idx int",
        )
    q_terms = rd.analyze(query)
    if k <= 0 or not q_terms or not rd.manifest["segments"]:
        return empty
    fld = rd.resolve_field(field)
    f_stats = rd.field_stats_of(fld)
    f_docs, _f_sdl, f_avgdl = f_stats
    if f_docs == 0:
        return empty
    # k-capping to the collection size (reference guard,
    # CuVS2510GPUVectorsReader.java:335): unbounded k would otherwise make
    # TakeOrderedAndProject allocate a 2k-slot selector per partition.
    k = min(k, f_docs)
    if msm is not None:
        if mode != "or":
            raise ValueError("msm (minimum_should_match) applies to mode='or'")
        if msm < 1:
            raise ValueError("msm must be >= 1")
    weights = Counter(q_terms)
    stats = rd.term_stats(list(weights), fld)
    present = [t for t in weights if stats.get(t, (0, 0))[0] > 0]
    if not present or (mode == "and" and len(present) < len(weights)):
        return empty
    if msm is not None and len(present) < msm:
        return empty  # fewer present terms than the match minimum
    term_meta = {
        t: (rd.term_weight(stats[t], f_stats, similarity), weights[t])
        for t in present
    }
    postings = rd._seek_postings(present, fld, stats)
    # liveDocs mask (D1): tombstoned docs dropped from every scoring path —
    # including the phase-1 threshold inside pruning, which would otherwise
    # overestimate θ from scores of dead docs and prune live results.
    del_ids = deleted_doc_ids(spark, rd.cat)
    ex_ids = _excluded_doc_ids(rd, exclude, fld)
    eff_msm = msm if msm is not None else 1
    if prune == "auto":
        sum_df = sum(stats[t][0] for t in present)
        do_prune = mode != "and" and eff_msm == 1 and sum_df >= PRUNE_MIN_POSTINGS
        log.info(
            "prune=auto: sum_df=%d threshold=%d -> %s",
            sum_df, PRUNE_MIN_POSTINGS, "prune" if do_prune else "exhaustive",
        )
    else:
        do_prune = bool(prune)
    if do_prune:
        postings = _prune_blocks(
            spark, rd, postings, term_meta, k, mode, filter_cond,
            prune_blocks_per_term, del_ids, avgdl=f_avgdl, after=after,
            ex_ids=ex_ids, similarity=similarity, k1=k1, b=b,
        )
    score_rows = _score_postings(
        postings, term_meta, f_avgdl, float32, similarity, k1=k1, b=b
    )
    return _finish(
        spark, rd, score_rows, len(weights), k, mode, filter_cond, float32,
        del_ids, n_present_terms=len(present), after=after, msm=eff_msm,
        group_by=group_by, collapse_by=collapse_by, boost_by=boost_by,
        parent_by=parent_by, score_mode=score_mode, ex_ids=ex_ids,
    )


def search_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[str],
    k: int = 10,
    mode: str | list[str] = "or",
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    similarity: str = "bm25",
    k1: float = BM25_K1,
    b: float = BM25_B,
    filter_cond: Column | str | None = None,
    exclude: str | None = None,
    msm: int | list[int | None] | None = None,
) -> DataFrame:
    """Top-k BM25 for MANY queries in ONE job: (qid, doc_id, score, conv_id,
    turn_idx), qid = the query's position in `queries`. `mode` is one
    boolean mode for every query or a per-query list — a batch may mix
    OR and AND queries freely (each query's match requirement is its own
    expression over the shared pivot).

    Rationale: a single query's wall time on Spark is floored by job-scheduling
    overhead (a few hundred ms per action), which amortizes at corpus scale
    but dominates interactive workloads. Batch execution shares everything:
    one term-stats lookup, one bucket+term-pruned postings scan over the
    UNION of query terms, one scoring pass (per-term weight 1), one pivot
    aggregation, then each query's total is a column expression over the
    shared pivot (weight × per-term score, added in sorted-term order — the
    same deterministic float64 sum as `_finish`), exploded to (qid, doc)
    rows; per-query top-k is one ranking window partitioned by qid.

    Scale shape: cost ≈ one search over the union of terms + a Q×-fanout of
    the matched-doc rows — not Q independent jobs.

    filter_cond / exclude apply to the WHOLE batch (one accepted-id
    semi-join / one MUST_NOT anti-join shared by every query — the batch
    analog of running Q filtered searches against the same constraint);
    msm is an int for all queries or a per-query list like ``mode``
    (None entries mean no minimum).
    """
    _check_similarity(similarity)
    rd = reader or IndexReader(spark, index_dir)
    out_t = "float" if float32 else "double"
    empty = spark.createDataFrame(
        [],
        f"qid int, doc_id long, score {out_t}, conv_id string, turn_idx int",
    )
    if k <= 0 or not queries or not rd.manifest["segments"]:
        return empty
    fld = rd.resolve_field(field)
    f_stats = rd.field_stats_of(fld)
    f_docs, _f_sdl, f_avgdl = f_stats
    if f_docs == 0:
        return empty
    k = min(k, f_docs)
    parsed = [rd.analyze(q) for q in queries]
    all_terms = sorted({t for toks in parsed for t in toks})
    if not all_terms:
        return empty
    stats = rd.term_stats(all_terms, fld)
    present = {t for t in all_terms if stats.get(t, (0, 0))[0] > 0}

    modes = [mode] * len(queries) if isinstance(mode, str) else list(mode)
    if len(modes) != len(queries):
        raise ValueError("mode list must match queries length")
    msms = (
        [msm] * len(queries)
        if msm is None or isinstance(msm, int)
        else list(msm)
    )
    if len(msms) != len(queries):
        raise ValueError("msm list must match queries length")
    # same validation as search(): msm applies to mode='or' and must be >= 1
    for vqi, v_msm in enumerate(msms):
        if v_msm is None:
            continue
        if modes[vqi] == "and":
            raise ValueError(
                f"msm (minimum_should_match) applies to mode='or' "
                f"(query {vqi} has mode='and')"
            )
        if v_msm < 1:
            raise ValueError(f"msm must be >= 1 (query {vqi})")
    specs = []  # (qid, weights, present-terms, mode, msm) per answerable query
    for qi, toks in enumerate(parsed):
        w = Counter(toks)
        pres = sorted(t for t in w if t in present)
        if not pres or (modes[qi] == "and" and len(pres) < len(w)):
            continue
        specs.append((qi, w, pres, modes[qi], msms[qi]))
    if not specs:
        return empty

    active = sorted({t for _qi, _w, pres, _m, _n in specs for t in pres})
    tindex = {t: i for i, t in enumerate(active)}
    # per-term weight 1: the shared pivot downstream is similarity-agnostic
    # (per-(doc,term) scores); each query applies its own weights
    term_meta = {
        t: (rd.term_weight(stats[t], f_stats, similarity), 1) for t in active
    }
    score_rows = _live_docs(
        _score_postings(
            rd._seek_postings(active, fld, stats), term_meta, f_avgdl,
            float32, similarity, k1=k1, b=b,
        ),
        rd, deleted_doc_ids(spark, rd.cat), filter_cond,
        _excluded_doc_ids(rd, exclude, fld),
    )
    per_term = [
        F.sum(F.when(F.col("tidx") == i, F.col("score"))).alias(f"_s{i}")
        for i in range(len(active))
    ]
    agg = score_rows.groupBy("doc_id").agg(*per_term)

    q_structs = []
    for qi, w, pres, q_mode, q_msm in specs:
        total = F.lit(0.0)
        matched = F.lit(0)
        for t in pres:  # sorted — the deterministic summation order
            c = F.col(f"_s{tindex[t]}")
            total = total + F.lit(float(w[t])) * F.coalesce(c, F.lit(0.0))
            matched = matched + F.when(c.isNotNull(), 1).otherwise(0)
        need = len(w) if q_mode == "and" else (q_msm or 1)
        q_structs.append(
            F.struct(
                F.lit(qi).alias("qid"),
                total.alias("score_d"),
                (matched >= need).alias("ok"),
            )
        )
    scored = (
        agg.select("doc_id", F.explode(F.array(*q_structs)).alias("q"))
        .select("doc_id", "q.qid", "q.score_d", "q.ok")
        .where("ok")
        .select("qid", "doc_id", F.col("score_d").cast(out_t).alias("score"))
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = scored.withColumn("_r", F.row_number().over(w_rank)).where(
        F.col("_r") <= k
    ).drop("_r")
    dd = rd.cat.read_doc_dim(spark).select("doc_id", "conv_id", "turn_idx")
    return (
        F.broadcast(topk)
        .join(dd, "doc_id")
        .select("qid", "doc_id", "score", "conv_id", "turn_idx")
        .orderBy("qid", F.desc("score"), F.asc("doc_id"))
    )


def search_fields(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    fields: list[str] | None = None,
    weights: list[float] | None = None,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    combine: str = "sum",
    tiebreak: float = 0.0,
) -> DataFrame:
    """Cross-field disjunctive top-k BM25 — the Lucene MultiFieldQueryParser
    / BooleanQuery-of-per-field-TermQueries analog: every query term scores
    in EVERY requested field with THAT field's own collection statistics
    (docCount → idf, avgdl → length norm; per-field entries,
    ``CuVS2510GPUVectorsWriter.java:335-352``), and a doc's total is
        Σ_f w_f · Σ_t score_f(t, doc).

    fields — indexed fields to search (default: all of them, index order).
    weights — per-field boosts aligned with `fields` (default all 1.0),
        folded into each field's idf exactly like a Lucene query boost.
    combine — 'sum' (BooleanQuery SHOULD across fields, above) or 'dismax'
        (Lucene DisjunctionMaxQuery over the per-field subqueries):
            max_f(sub_f) + tiebreak · (Σ_f sub_f − max_f(sub_f)),
        i.e. the best field wins and every other matching field contributes
        a tiebreak fraction (DisjunctionMaxQuery's tieBreakerMultiplier).
        A field the doc doesn't match contributes sub_f = 0 — BM25 scores
        are strictly positive, so the max is over matched fields only,
        exactly Lucene's semantics.
    tiebreak — DisMax tieBreakerMultiplier in [0, 1]; only with 'dismax'.

    Determinism: per-field subtotals are summed in sorted-term order and
    then added in field order ((f0 terms…) + (f1 terms…) + …), and the
    DuckDB oracle groups its float64 additions identically, so totals are
    bit-equal and exact ties at the k boundary break the same way.

    Plan: one bucket+term+field-pruned postings scan per field (the
    dictionary seek is per field, as in Lucene), each through the narrow
    score kernel; a union of (doc, global-tidx, score) rows; ONE pivot
    aggregation; TakeOrderedAndProject. Deletes and filter_cond apply to
    the unioned rows once.
    """
    if combine not in ("sum", "dismax"):
        raise ValueError(f"combine must be 'sum' or 'dismax', got {combine!r}")
    if combine == "sum" and tiebreak:
        raise ValueError("tiebreak only applies to combine='dismax'")
    if not 0.0 <= tiebreak <= 1.0:
        raise ValueError(f"tiebreak must be in [0, 1], got {tiebreak}")
    rd = reader or IndexReader(spark, index_dir)
    empty = _empty_hits(spark, float32)
    q_terms = rd.analyze(query)
    if k <= 0 or not q_terms or not rd.manifest["segments"]:
        return empty
    flds = [rd.resolve_field(f) for f in (fields or rd.fields)]
    if len(set(flds)) != len(flds):
        raise ValueError(f"duplicate fields in {flds}")
    if weights is None:
        weights = [1.0] * len(flds)
    if len(weights) != len(flds):
        raise ValueError("weights must align with fields")
    w_of = dict(zip(flds, weights))
    q_weights = Counter(q_terms)

    branches: list[tuple[int, DataFrame]] = []  # (n_present_terms, score rows)
    offset = 0
    cap = 0
    for fld in flds:
        f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
        if f_docs == 0:
            continue
        stats = rd.term_stats(list(q_weights), fld)
        present = [t for t in q_weights if stats.get(t, (0, 0))[0] > 0]
        if not present:
            continue
        cap += f_docs
        term_meta = {
            t: (rd.idf(stats[t][0], f_docs) * w_of[fld], q_weights[t])
            for t in present
        }
        rows = _score_postings(
            rd._seek_postings(present, fld, stats), term_meta, f_avgdl, float32
        )
        if offset:
            rows = rows.select(
                "doc_id", (F.col("tidx") + F.lit(offset)).alias("tidx"), "score"
            )
        branches.append((len(present), rows))
        offset += len(present)
    if not branches:
        return empty
    k = min(k, cap)

    from functools import reduce as _reduce

    score_rows = _live_docs(
        _reduce(DataFrame.unionByName, [r for _n, r in branches]),
        rd, deleted_doc_ids(spark, rd.cat), filter_cond,
    )
    per_term = [
        F.sum(F.when(F.col("tidx") == i, F.col("score"))).alias(f"_s{i}")
        for i in range(offset)
    ]
    agg = score_rows.groupBy("doc_id").agg(*per_term)
    subs: list[Column] = []
    i = 0
    for n_present, _r in branches:
        sub = F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        for j in range(i + 1, i + n_present):
            sub = sub + F.coalesce(F.col(f"_s{j}"), F.lit(0.0))
        subs.append(sub)
        i += n_present
    total = subs[0]
    for sub in subs[1:]:
        total = total + sub
    if combine == "dismax":
        best = subs[0] if len(subs) == 1 else F.greatest(*subs)
        total = best + F.lit(float(tiebreak)) * (total - best)
    return _finish_topk(
        spark, rd, agg.select("doc_id", total.alias("score_d")), k, float32
    )


def explain(
    spark: SparkSession,
    index_dir: str,
    query: str,
    doc_id: int,
    reader: IndexReader | None = None,
    field: str | None = None,
) -> dict:
    """Score breakdown for one (query, doc) — the Lucene Explanation analog.

    Returns {"doc_id", "score", "matched", "terms": {term: {"tf", "df",
    "idf", "dl_d", "tf_norm", "weight", "contribution"}}} where score =
    Σ contribution in sorted-term order (exactly the engine's summation),
    computed in float64 (the oracle-parity mode). Docs the query doesn't
    match return matched=False with an empty term map.

    One bucket+term+doc-pruned postings read — the per-doc seek a user runs
    interactively to debug a ranking, not a batch operator."""
    from cuvs_lucene_spark.analysis import BM25_B, BM25_K1, dequantize_dl_np

    rd = reader or IndexReader(spark, index_dir)
    out: dict = {"doc_id": int(doc_id), "score": 0.0, "matched": False, "terms": {}}
    q_terms = rd.analyze(query)
    if not q_terms or not rd.manifest["segments"]:
        return out
    fld = rd.resolve_field(field)
    f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
    if f_docs == 0:
        return out
    weights = Counter(q_terms)
    stats = rd.term_stats(sorted(weights), fld)
    present = [t for t in sorted(weights) if stats.get(t, (0, 0))[0] > 0]
    if not present:
        return out
    del_ids = deleted_doc_ids(spark, rd.cat)
    if del_ids is not None and del_ids.where(F.col("doc_id") == doc_id).count():
        return out
    # block-level doc range prune: parquet min/max stats on first/last
    postings = rd._seek_postings(present, fld, stats).where(
        (F.col("first_doc") <= doc_id) & (F.col("last_doc") >= doc_id)
    )
    rows = (
        decode_postings(postings)
        .where(F.col("doc_id") == doc_id)
        .select("term", "tf", "dl_q")
        .collect()
    )
    score = 0.0
    for t in present:  # sorted-term order — the engine's summation order
        hit = next((r for r in rows if r["term"] == t), None)
        if hit is None:
            continue
        df = stats[t][0]
        idf = rd.idf(df, f_docs)
        dl_d = float(dequantize_dl_np(np.array([hit["dl_q"]], dtype=np.int64))[0])
        tf = float(hit["tf"])
        tf_norm = tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl_d / f_avgdl))
        contribution = float(weights[t]) * (idf * tf_norm)
        score += contribution
        out["terms"][t] = {
            "tf": int(tf),
            "df": int(df),
            "idf": idf,
            "dl_d": dl_d,
            "tf_norm": tf_norm,
            "weight": int(weights[t]),
            "contribution": contribution,
        }
    out["matched"] = bool(out["terms"])
    out["score"] = score
    return out


def _match_doc_ids_df(
    spark: SparkSession,
    rd: IndexReader,
    query: str,
    mode: str = "or",
    filter_cond: Column | str | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
) -> DataFrame | None:
    """Distinct LIVE doc_ids matching the full clause surface (or/and/msm/
    exclude/filter_cond), or None when provably empty without any job.

    Plan shape: the same bucket+term-pruned postings scan as search, decoded
    to (term, doc_id) and reduced by a map-side-combinable distinct — no
    scoring, no norms, no top-k machinery. Shared by count_matches and
    facet_counts."""
    if msm is not None and (mode != "or" or msm < 1):
        raise ValueError("msm requires mode='or' and msm >= 1")
    q_terms = rd.analyze(query)
    if not q_terms or not rd.manifest["segments"]:
        return None
    fld = rd.resolve_field(field)
    if rd.field_stats_of(fld)[0] == 0:
        return None
    distinct_terms = sorted(set(q_terms))
    stats = rd.term_stats(distinct_terms, fld)
    present = [t for t in distinct_terms if stats.get(t, (0, 0))[0] > 0]
    if not present or (mode == "and" and len(present) < len(distinct_terms)):
        return None
    if msm is not None and len(present) < msm:
        return None
    rows = _live_docs(
        decode_postings(rd._seek_postings(present, fld, stats))
        .select("term", "doc_id"),
        rd, deleted_doc_ids(spark, rd.cat), filter_cond,
        _excluded_doc_ids(rd, exclude, fld),
    )
    need = len(present) if mode == "and" else (msm or 1)
    if need > 1:
        return (
            rows.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"))
            .where(F.col("nt") >= need if mode != "and" else F.col("nt") == need)
            .select("doc_id")
        )
    return rows.select("doc_id").distinct()


def count_matches(
    spark: SparkSession,
    index_dir: str,
    query: str,
    mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
) -> int:
    """Number of live docs matching the query (IndexSearcher.count analog):
    mode='or' counts docs containing ≥1 query term (or ≥`msm` distinct terms
    when given — minimum_should_match), mode='and' docs containing every
    distinct query term; tombstoned docs, `exclude`d docs (MUST_NOT) and
    filter_cond rejects never count — the same clause surface as search()."""
    rd = reader or IndexReader(spark, index_dir)
    ids = _match_doc_ids_df(
        spark, rd, query, mode, filter_cond, field, exclude, msm
    )
    return 0 if ids is None else int(ids.count())


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    query: str,
    facet: Column | str = "role",
    mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
    top_n: int | None = None,
) -> DataFrame:
    """Per-category live-doc match counts over the query's match set — the
    Lucene facets-module analog (FastTaxonomyFacetCounts over a drill-down
    query; the facets module sits beside the codec surface the reference
    plugs into via its Lucene dependency, ``pom.xml:42-43``).

    `facet` is a doc_dim column name or Column expression (e.g.
    ``F.to_date("ts")`` for a date histogram). Returns (facet, n_docs)
    ordered by n_docs DESC, facet ASC (deterministic ties); `top_n` caps the
    returned categories.

    Plan shape at scale: the match set is the bucket+term-pruned postings
    scan reduced to distinct doc_ids (map-side combinable), semi-joined into
    a (doc_id, facet)-projected doc_dim scan, then ONE hash aggregate on the
    facet value — no row ever carries text or postings payload, and the agg
    output is bounded by category cardinality, not corpus size."""
    rd = reader or IndexReader(spark, index_dir)
    ids = _match_doc_ids_df(
        spark, rd, query, mode, filter_cond, field, exclude, msm
    )
    facet_col = F.col(facet) if isinstance(facet, str) else facet
    if ids is None:
        if not rd.manifest["segments"]:
            # no doc_dim exists to type the facet column from
            return spark.createDataFrame([], "facet string, n_docs long")
        ids = spark.createDataFrame([], "doc_id long")
    dd = rd.cat.read_doc_dim(spark)
    out = (
        dd.join(ids, "doc_id", "left_semi")
        .groupBy(facet_col.alias("facet"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("facet"))
    )
    return out.limit(top_n) if top_n is not None else out


def facet_ranges(
    spark: SparkSession,
    index_dir: str,
    query: str,
    ranges: list[tuple[str, object, object]],
    on: Column | str = "ts",
    mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
) -> DataFrame:
    """Named-range facet counts over the query's match set — the Lucene
    ``LongRangeFacetCounts`` / ``DoubleRangeFacetCounts`` analog (ranges
    module, beside the facets surface the reference's Lucene dependency
    exposes via ``pom.xml:42-43``).

    ``ranges`` is a list of (label, lower, upper) with inclusive lower and
    EXCLUSIVE upper (half-open, the Lucene LongRange default shape); either
    bound may be None for open-ended. Ranges MAY overlap — unlike a
    categorical groupBy, each range is counted independently, exactly like
    Lucene where a doc contributes to every range containing its value.
    Bounds are compared against the doc_dim column/expression ``on``
    (default ``ts``); pass strings like "2026-01-01" for timestamps — Spark
    coerces literals against the column type.

    Returns (facet, n_docs) in the CALLER'S range order (Lucene returns
    LabelAndValue in the order the ranges were given).

    Plan shape at scale: the match set is the bucket+term-pruned postings
    scan reduced to distinct doc_ids, semi-joined into a doc_dim scan
    projected to (doc_id, on); then ONE aggregate computing every range as a
    conditional count in a single pass (no per-range scan, no unpivot
    shuffle — the output is one row exploded driver-free via stack)."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    rd = reader or IndexReader(spark, index_dir)
    ids = _match_doc_ids_df(
        spark, rd, query, mode, filter_cond, field, exclude, msm
    )
    if ids is None or not rd.manifest["segments"]:
        return spark.createDataFrame(
            [(lbl, 0) for (lbl, _lo, _hi) in ranges], "facet string, n_docs long"
        )
    on_col = F.col(on) if isinstance(on, str) else on
    dd = rd.cat.read_doc_dim(spark).select(
        F.col("doc_id"), on_col.alias("_v")
    )
    aggs = []
    for i, (_lbl, lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("_v") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col("_v") < F.lit(hi))
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias(f"_r{i}")
        )
    one = dd.join(ids, "doc_id", "left_semi").agg(*aggs)
    # stack(n, label0, _r0, ...) explodes the single agg row into
    # (facet, n_docs) rows executor-side, preserving caller order via the
    # stack argument order (stack emits rows in argument order).
    stack_args = ", ".join(
        f"'{_sql_quote(lbl)}', _r{i}" for i, (lbl, _lo, _hi) in enumerate(ranges)
    )
    return one.selectExpr(
        f"stack({len(ranges)}, {stack_args}) AS (facet, n_docs)"
    ).select(F.col("facet"), F.col("n_docs").cast("long").alias("n_docs"))


def describe_index(
    spark: SparkSession,
    index_dir: str,
    top_terms: int = 10,
    reader: IndexReader | None = None,
) -> dict:
    """One-call index overview — the Luke "Overview" tab analog: commit
    version, analyzer, fields, per-field collection stats (docCount, sumDl,
    avgdl, #terms) and the top-``top_terms`` terms by df, segment summaries
    (doc counts, tombstones), and the disk-usage roll-up.

    Cost: manifest metadata + ONE dictionary aggregation job (the dictionary
    is ~vocabulary-sized, not corpus-sized) — safe to call interactively
    against an index of any corpus size."""
    rd = reader or IndexReader(spark, index_dir)
    d = rd.cat.read_dictionary(spark)
    per_field_rows = (
        d.groupBy("field")
        .agg(
            F.count(F.lit(1)).alias("entries"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("df").alias("sum_df"),
        )
        .collect()
    )
    top = {
        fld: [
            (r["term"], int(r["df"]))
            for r in (
                d.where(F.col("field") == fld)
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(top_terms)
                .collect()
            )
        ]
        for fld in rd.fields
    }
    del_ids = deleted_doc_ids(spark, rd.cat)
    n_deleted = 0 if del_ids is None else int(del_ids.count())
    fields = {}
    for fld in rd.fields:
        n, sum_dl, avgdl = rd.field_stats_of(fld)
        stats_row = next(
            (r for r in per_field_rows if r["field"] == fld), None
        )
        fields[fld] = {
            "doc_count": int(n),
            "sum_dl": int(sum_dl),
            "avgdl": float(avgdl),
            "n_terms": int(stats_row["n_terms"]) if stats_row else 0,
            "top_terms": top.get(fld, []),
        }
    du = rd.cat.disk_usage() if hasattr(rd.cat, "disk_usage") else None
    return {
        "version": rd.manifest.get("version"),
        "analyzer": rd.analyzer,
        "fields": fields,
        "segments": [
            {
                "id": s["id"],
                "doc_count": s.get("doc_count"),
                "run_id": s.get("run_id"),
            }
            for s in rd.manifest["segments"]
        ],
        "n_deleted": n_deleted,
        "disk_usage": du,
    }


def search_children(
    spark: SparkSession,
    index_dir: str,
    query: str,
    parent_by: str = "conv_id",
    k: int = 50,
    k_parents: int = 10,
    score_mode: str = "max",
    mode: str = "or",
    child_filter: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
) -> DataFrame:
    """``ToChildBlockJoinQuery`` analog: match PARENTS with the query (child
    scores rolled up under ``score_mode``, exactly the ToParentBlockJoin path
    this composes with), then return the CHILD docs of the top ``k_parents``
    parents, every child carrying its parent's score — Lucene propagates the
    parent score to each child the same way. ``child_filter`` restricts which
    children are returned (a doc_dim predicate — Lucene's childFilter), and
    tombstoned children never surface (liveDocs, D1).

    Output: (doc_id, <parent_by>, score, conv_id, turn_idx) ordered by
    (score desc, parent asc, doc_id asc), limited to ``k``.

    Plan shape at scale: the parent roll-up is the existing parent_by path
    (scored match set → one groupBy shuffle → top-k_parents). The child fetch
    BROADCASTS those ≤k_parents rows against one doc_dim scan — no second
    postings scan, no shuffle of the corpus — then TakeOrderedAndProject
    bounds the output at k."""
    rd = reader or IndexReader(spark, index_dir)
    parents = search(
        spark, index_dir, query, k=k_parents, mode=mode, reader=rd,
        float32=float32, field=field, exclude=exclude, msm=msm,
        parent_by=parent_by, score_mode=score_mode,
    ).select(parent_by, "score")
    dd = rd.cat.read_doc_dim(spark)
    children = dd.join(F.broadcast(parents), parent_by)
    if child_filter is not None:
        cf = (
            F.expr(child_filter) if isinstance(child_filter, str) else child_filter
        )
        children = children.where(cf)
    children = _live_docs(children, rd, deleted_doc_ids(spark, rd.cat))
    cols = ["doc_id", parent_by, "score", "conv_id", "turn_idx"]
    seen, sel = set(), []
    for c in cols:
        if c not in seen:
            seen.add(c)
            sel.append(c)
    return (
        children.select(*sel)
        .orderBy(F.desc("score"), F.asc(parent_by), F.asc("doc_id"))
        .limit(k)
    )


def search_with_context(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    window: int = 2,
    text_col: str = "text",
    mode: str = "or",
    filter_cond: Column | str | None = None,
    prune: bool | str = False,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
    similarity: str = "bm25",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k search where every hit carries ±``window`` adjacent turns of
    its conversation — context retrieval over transcripts (the
    conversational analog of Lucene's stored-field neighborhood fetch:
    the hit identifies a (conv_id, turn_idx) anchor, the context is the
    turn-range block around it, like a ToChildBlockJoin restricted to the
    anchor's neighborhood).

    ``corpus`` is the source-of-truth transcripts DataFrame the index was
    built from (the index stores no text — the same contract as
    ``highlight``). A hit near a conversation edge simply truncates.
    Overlapping hits each carry their own context rows.

    Output: (doc_id, score, conv_id, turn_idx, ctx_turn_idx, offset,
    is_hit, role, <text_col>) — one row per (hit, context turn), ordered
    by (score desc, doc_id asc, ctx_turn_idx asc). ``offset`` =
    ctx_turn_idx − turn_idx ∈ [−window, +window]; ``is_hit`` marks the
    anchor row.

    Plan shape at scale: the ≤k hit rows BROADCAST against ONE corpus
    scan with a (conv_id equality AND turn-range) join predicate — no
    shuffle of the corpus, ≤ k·(2·window+1) output rows; a corpus
    clustered by conv_id prunes the scan to the hit conversations."""
    if window < 0:
        raise ValueError("window must be >= 0")
    rd = reader or IndexReader(spark, index_dir)
    hits = search(
        spark, index_dir, query, k=k, mode=mode, filter_cond=filter_cond,
        prune=prune, reader=rd, float32=float32, field=field,
        exclude=exclude, msm=msm, similarity=similarity, k1=k1, b=b,
    )
    ctx = corpus.select(
        F.col("conv_id").alias("_ctx_conv"),
        F.col("turn_idx").alias("ctx_turn_idx"),
        "role",
        text_col,
    )
    joined = F.broadcast(hits).join(
        ctx,
        (F.col("conv_id") == F.col("_ctx_conv"))
        & (F.col("ctx_turn_idx") >= F.col("turn_idx") - F.lit(window))
        & (F.col("ctx_turn_idx") <= F.col("turn_idx") + F.lit(window)),
    )
    return (
        joined.select(
            "doc_id",
            "score",
            "conv_id",
            "turn_idx",
            "ctx_turn_idx",
            (F.col("ctx_turn_idx") - F.col("turn_idx")).alias("offset"),
            (F.col("ctx_turn_idx") == F.col("turn_idx")).alias("is_hit"),
            "role",
            text_col,
        )
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("ctx_turn_idx"))
    )


def search_with_context_batch(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    queries: list[str],
    k: int = 10,
    window: int = 2,
    text_col: str = "text",
    mode: str | list[str] = "or",
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    similarity: str = "bm25",
    k1: float = BM25_K1,
    b: float = BM25_B,
    filter_cond: Column | str | None = None,
    exclude: str | None = None,
    msm: int | list[int | None] | None = None,
) -> DataFrame:
    """Batch analog of search_with_context: Q queries' hits fetch their
    ±``window`` context turns in ONE corpus join instead of Q.

    All Q top-k lists come from one search_batch job (shared postings scan),
    then the ≤ Q·k hit rows broadcast against a single corpus scan with the
    (conv_id, turn-range) predicate — the per-hit neighborhood fetch
    amortizes across the batch exactly like the hop scans in
    graph_search_batch. Output: search_with_context's columns plus a leading
    ``qid``, ordered (qid, score desc, doc_id, ctx_turn_idx)."""
    if window < 0:
        raise ValueError("window must be >= 0")
    hits = search_batch(
        spark, index_dir, queries, k=k, mode=mode, reader=reader,
        float32=float32, field=field, similarity=similarity, k1=k1, b=b,
        filter_cond=filter_cond, exclude=exclude, msm=msm,
    )
    ctx = corpus.select(
        F.col("conv_id").alias("_ctx_conv"),
        F.col("turn_idx").alias("ctx_turn_idx"),
        "role",
        text_col,
    )
    joined = F.broadcast(hits).join(
        ctx,
        (F.col("conv_id") == F.col("_ctx_conv"))
        & (F.col("ctx_turn_idx") >= F.col("turn_idx") - F.lit(window))
        & (F.col("ctx_turn_idx") <= F.col("turn_idx") + F.lit(window)),
    )
    return (
        joined.select(
            "qid",
            "doc_id",
            "score",
            "conv_id",
            "turn_idx",
            "ctx_turn_idx",
            (F.col("ctx_turn_idx") - F.col("turn_idx")).alias("offset"),
            (F.col("ctx_turn_idx") == F.col("turn_idx")).alias("is_hit"),
            "role",
            text_col,
        )
        .orderBy(
            F.asc("qid"), F.desc("score"), F.asc("doc_id"),
            F.asc("ctx_turn_idx"),
        )
    )


def drill_down(
    spark: SparkSession,
    index_dir: str,
    query: str,
    dims: dict[str, list],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Lucene ``DrillDownQuery`` analog: the base query with every dimension
    constraint applied (each dim an OR over its allowed values, dims ANDed),
    compiled onto search()'s filter_cond — the exact pre-filter semi-join
    (Q2), not post-filtering."""
    cond = None
    for d, vals in sorted(dims.items()):
        c = F.col(d).isin(list(vals))
        cond = c if cond is None else (cond & c)
    extra = kwargs.pop("filter_cond", None)
    if extra is not None:
        ec = F.expr(extra) if isinstance(extra, str) else extra
        cond = ec if cond is None else (cond & ec)
    return search(spark, index_dir, query, k=k, filter_cond=cond, **kwargs)


def drill_sideways(
    spark: SparkSession,
    index_dir: str,
    query: str,
    dims: dict[str, list],
    mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
) -> DataFrame:
    """Lucene ``DrillSideways`` analog: for every drill-down dimension,
    facet counts computed with THAT dimension's own constraint removed but
    every other dimension's applied — the "what else could I have picked"
    counts a faceted-search UI shows next to the drill-down hits
    (which `drill_down` returns). Returns (dim, facet, n_docs) ordered by
    dim asc, n_docs desc, facet asc; facet values cast to string for a
    uniform schema across dimensions.

    Plan shape at scale: ONE match-set computation (bucket+term-pruned scan
    → distinct doc_ids), ONE doc_dim semi-join, then every dimension's
    sideways counts in a SINGLE pass — each row explodes into one
    (dim, value, passes-other-dims) struct per dimension (|dims| is tiny),
    and one hash aggregate on (dim, value) bounds the output by total
    category cardinality. The match set is never recomputed per dim (the
    trap in a naive N-query implementation — and the reason Lucene built
    DrillSideways as one collector pass instead of N queries)."""
    if not dims:
        raise ValueError("dims must be non-empty")
    rd = reader or IndexReader(spark, index_dir)
    ids = _match_doc_ids_df(
        spark, rd, query, mode, filter_cond, field, exclude, msm
    )
    if ids is None or not rd.manifest["segments"]:
        return spark.createDataFrame([], "dim string, facet string, n_docs long")
    passes = {d: F.col(d).isin(list(v)) for d, v in dims.items()}
    structs = []
    for d in sorted(dims):
        ok = F.lit(True)
        for o in dims:
            if o != d:
                ok = ok & passes[o]
        structs.append(
            F.struct(
                F.lit(d).alias("dim"),
                F.col(d).cast("string").alias("facet"),
                ok.alias("ok"),
            )
        )
    dd = rd.cat.read_doc_dim(spark).join(ids, "doc_id", "left_semi")
    return (
        dd.select(F.explode(F.array(*structs)).alias("x"))
        .where(F.col("x.ok"))
        .groupBy(F.col("x.dim").alias("dim"), F.col("x.facet").alias("facet"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.asc("dim"), F.desc("n_docs"), F.asc("facet"))
    )


def facet_pivot(
    spark: SparkSession,
    index_dir: str,
    query: str,
    dims: list[str],
    mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
    top_n: int | None = None,
) -> DataFrame:
    """Multi-level (pivot) facet counts over the query's match set — the
    Lucene taxonomy-facets multi-level dimension analog (Solr calls the same
    shape ``facet.pivot``; the facets module sits beside the codec surface
    the reference plugs into via its Lucene dependency, ``pom.xml:42-43``).

    ``dims`` is an ordered list of doc_dim column names (e.g.
    ``["role", "tool"]``); the result has one row per observed value
    combination, columns named after the dims plus ``n_docs``, ordered
    n_docs DESC then dims ASC (deterministic ties). NULL dim values are kept
    as their own bucket (Lucene represents a missing path component the same
    way a drill-down on an absent label would).

    Plan shape at scale: identical to facet_counts — the distinct-docID
    match set semi-joins a (doc_id, dims)-projected doc_dim scan, then ONE
    hash aggregate on the dim tuple; output is bounded by the cross
    cardinality of the observed dim values, never corpus size."""
    if not dims:
        raise ValueError("dims must be non-empty")
    rd = reader or IndexReader(spark, index_dir)
    ids = _match_doc_ids_df(
        spark, rd, query, mode, filter_cond, field, exclude, msm
    )
    if ids is None:
        if not rd.manifest["segments"]:
            schema = ", ".join(f"`{c}` string" for c in dims)
            return spark.createDataFrame([], f"{schema}, n_docs long")
        ids = spark.createDataFrame([], "doc_id long")
    dd = rd.cat.read_doc_dim(spark)
    out = (
        dd.join(ids, "doc_id", "left_semi")
        .groupBy(*[F.col(c) for c in dims])
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), *[F.asc(c) for c in dims])
    )
    return out.limit(top_n) if top_n is not None else out


def facet_stats(
    spark: SparkSession,
    index_dir: str,
    query: str,
    on: Column | str,
    by: Column | str = "role",
    mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
) -> DataFrame:
    """Per-facet numeric statistics over the query's match set — the Lucene
    facets-module value-association analog (``TaxonomyFacetIntAssociations``
    aggregates a numeric per-doc value under each label; Solr exposes the
    same shape as the stats component with ``stats.facet``).

    ``on`` is the numeric doc_dim column/expression to aggregate; ``by`` is
    the facet key. Returns (facet, n_docs, min_v, max_v, sum_v, avg_v)
    ordered by facet ASC. min/max/sum stay in the column's own type family
    (exact for integers); avg_v is float64.

    Plan shape at scale: match-set semi-join into a (doc_id, by, on)
    projection, ONE hash aggregate on the facet key — all five statistics
    computed in the same single pass (no per-stat scan)."""
    rd = reader or IndexReader(spark, index_dir)
    ids = _match_doc_ids_df(
        spark, rd, query, mode, filter_cond, field, exclude, msm
    )
    on_col = F.col(on) if isinstance(on, str) else on
    by_col = F.col(by) if isinstance(by, str) else by
    if ids is None:
        if not rd.manifest["segments"]:
            return spark.createDataFrame(
                [],
                "facet string, n_docs long, min_v double, max_v double, "
                "sum_v double, avg_v double",
            )
        ids = spark.createDataFrame([], "doc_id long")
    dd = rd.cat.read_doc_dim(spark)
    return (
        dd.join(ids, "doc_id", "left_semi")
        .select(by_col.alias("facet"), on_col.alias("_v"))
        .groupBy("facet")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_v").alias("min_v"),
            F.max("_v").alias("max_v"),
            F.sum("_v").alias("sum_v"),
            F.avg("_v").alias("avg_v"),
        )
        .orderBy(F.asc("facet"))
    )


def _sql_quote(s: str) -> str:
    return str(s).replace("\\", "\\\\").replace("'", "\\'")


def search_sorted(
    spark: SparkSession,
    index_dir: str,
    query: str,
    sort_by: str = "ts",
    ascending: bool = False,
    k: int = 10,
    mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    field: str | None = None,
    exclude: str | None = None,
    msm: int | None = None,
    after: tuple | None = None,
) -> DataFrame:
    """Top-k matches ordered by a doc_dim FIELD instead of relevance — the
    Lucene ``IndexSearcher.search(query, k, Sort)`` analog. Exactly like
    Lucene with a non-score Sort, SCORING IS SKIPPED entirely: no norms, no
    idf, no BM25 kernel — the match set comes from the same bucket+term-pruned
    postings scan as count_matches/facet_counts (``_match_doc_ids_df``),
    honoring the full clause surface (or/and/msm/exclude/filter_cond) and
    liveDocs.

    Returns (doc_id, conv_id, turn_idx, <sort_by>) in (<sort_by> asc|desc,
    doc_id asc) order — doc_id is the deterministic tie-break, mirroring
    Lucene's implicit docID tie-break in SortField comparators.

    Plan shape at scale: distinct match ids semi-joined into a doc_dim scan
    projected to 3+1 columns, then TakeOrderedAndProject (per-partition k-heap
    + driver merge of ≤ k·partitions rows) — never a global sort. The
    clustered doc_dim layout (build-time (role, ts) ordering) gives the scan
    parquet min/max locality on the common sort keys.

    after=(sort_value, doc_id) — deep-pagination cursor (the searchAfter
    analog for sorted results): pass the last row of the previous page; the
    result is the next k matches strictly past it in the sort order. The
    cursor predicate composes with the doc_dim scan, so parquet min/max
    stats on a clustered sort key (ts) also PRUNE row groups wholly before
    the cursor — deep pages get cheaper, not more expensive."""
    ids = _match_doc_ids_df(
        spark, rd := (reader or IndexReader(spark, index_dir)), query, mode,
        filter_cond, field, exclude, msm,
    )
    sort_col = F.col(sort_by)
    order = [sort_col.asc(), F.asc("doc_id")] if ascending else [
        sort_col.desc(), F.asc("doc_id")
    ]
    dd_cols = ["doc_id", "conv_id", "turn_idx"]
    if sort_by not in dd_cols:
        dd_cols.append(sort_by)
    # sorting by a committed doc-values field overlays its updates (Lucene
    # SortField over an updated numeric DV); base columns skip the overlay
    fields_fn = getattr(rd.cat, "dv_fields", None)
    dv_sorted = fields_fn is not None and sort_by in (fields_fn() or {})
    if ids is None:
        if not rd.manifest["segments"]:
            return spark.createDataFrame(
                [], "doc_id long, conv_id string, turn_idx int"
            )
        return (
            rd.doc_dim_view(spark) if dv_sorted else rd.cat.read_doc_dim(spark)
        ).select(*dd_cols).limit(0)
    out = (
        rd.doc_dim_view(spark) if dv_sorted else rd.cat.read_doc_dim(spark)
    ).select(*dd_cols)
    if after is not None:
        a_v, a_d = after
        past = sort_col > F.lit(a_v) if ascending else sort_col < F.lit(a_v)
        out = out.where(
            past | ((sort_col == F.lit(a_v)) & (F.col("doc_id") > int(a_d)))
        )
    return (
        out.join(ids, "doc_id", "left_semi")
        .orderBy(*order)
        .limit(max(int(k), 0))
    )


# Accepted-id cache for repeated interactive filters: the same (snapshot,
# filter) pair re-scans doc_dim on every query otherwise. Keyed by the
# reader's snapshot identity (so any commit invalidates) + the filter's
# resolved expression string; values are persisted id DataFrames
# (MEMORY_AND_DISK — spills, never OOMs), small LRU with unpersist-on-evict.
_ACCEPTED_IDS_CACHE: dict[tuple, DataFrame] = {}
_ACCEPTED_IDS_MAX = 8


def _accepted_doc_ids(rd: IndexReader, filter_cond: Column | str) -> DataFrame:
    cond = F.expr(filter_cond) if isinstance(filter_cond, str) else filter_cond
    key = (rd._snap_key, str(cond))
    hit = _ACCEPTED_IDS_CACHE.get(key)
    if hit is not None:
        # LRU touch
        _ACCEPTED_IDS_CACHE[key] = _ACCEPTED_IDS_CACHE.pop(key)
        return hit
    from pyspark import StorageLevel

    ids = (
        rd.cat.read_doc_dim(rd.spark)
        .where(cond)
        .select("doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    while len(_ACCEPTED_IDS_CACHE) >= _ACCEPTED_IDS_MAX:
        _ACCEPTED_IDS_CACHE.pop(next(iter(_ACCEPTED_IDS_CACHE))).unpersist()
    _ACCEPTED_IDS_CACHE[key] = ids
    return ids


def _finish(
    spark: SparkSession,
    rd: IndexReader,
    score_rows: DataFrame,
    n_query_terms: int,
    k: int,
    mode: str,
    filter_cond,
    float32: bool = True,
    del_ids: DataFrame | None = None,
    n_present_terms: int = 1,
    after: tuple[float, int] | None = None,
    msm: int = 1,
    group_by: str | None = None,
    collapse_by: str | None = None,
    boost_by: Column | str | None = None,
    parent_by: str | None = None,
    score_mode: str = "max",
    ex_ids: DataFrame | None = None,
) -> DataFrame:
    score_rows = _live_docs(score_rows, rd, del_ids, filter_cond, ex_ids)
    # Deterministic float64 total: pivot each term's single score row into
    # its own aggregate (≤1 row per (doc, term) — a (doc, term) lives in
    # exactly one salt and one block), then add left-to-right in sorted-term
    # order. Plain SUM would add in shuffle arrival order, whose last-ULP
    # noise splits exact ties at the k boundary differently run-to-run (and
    # differently from the oracle). The oracle SQL pivots identically.
    per_term = [
        F.sum(F.when(F.col("tidx") == i, F.col("score"))).alias(f"_s{i}")
        for i in range(n_present_terms)
    ]
    agg = score_rows.groupBy("doc_id").agg(
        *per_term, F.count(F.lit(1)).alias("nt")
    )
    total = F.coalesce(F.col("_s0"), F.lit(0.0))
    for i in range(1, n_present_terms):
        total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    agg = agg.withColumn("score_d", total)
    if mode == "and":
        agg = agg.where(F.col("nt") == F.lit(n_query_terms))
    elif msm > 1:
        # minimum_should_match: nt counts DISTINCT matched terms (one score
        # row per (doc, term) — a (doc, term) lives in exactly one block)
        agg = agg.where(F.col("nt") >= F.lit(msm))
    out_t = "float" if float32 else "double"
    if boost_by is not None:
        # FunctionScoreQuery analog: multiply the float64 pivot total by a
        # doc_dim-derived factor BEFORE the output cast and top-k. Plan
        # shape: match-set (one row per doc) shuffle-joins doc_dim — the
        # same shape the group_by path already uses; the boost expression
        # stays whole-stage-codegen JVM-side.
        b = F.expr(boost_by) if isinstance(boost_by, str) else boost_by
        # doc_dim_view: committed doc-values updates are overlaid, so a
        # boost over a DV field re-ranks on the newest values (Lucene
        # updateNumericDocValue + FunctionScoreQuery composition)
        agg = agg.join(rd.doc_dim_view(spark), "doc_id").select(
            "doc_id",
            (F.col("score_d") * b.cast("double")).alias("score_d"),
        )
    if parent_by is not None:
        # ToParentBlockJoinQuery analog: roll child (turn) scores up to the
        # parent (conversation) under ScoreMode, return the top-k parents.
        # Plan shape at scale: the scored match set (one row per doc after
        # the pivot agg) shuffle-joins doc_dim on doc_id, then ONE groupBy
        # shuffle on the parent key; output bounded by k via
        # TakeOrderedAndProject — no global sort, nothing corpus-sized on
        # the driver. 'total'/'avg' aggregate the children as DECIMAL(38,10)
        # so the sum is order-independent: float64 addition in shuffle
        # arrival order would differ in the last ULP run-to-run and against
        # the SQL oracle at the LIMIT boundary.
        dd_cols = ["doc_id"] + ([parent_by] if parent_by != "doc_id" else [])
        dd = rd.cat.read_doc_dim(spark).select(*dd_cols)
        children = agg.select("doc_id", "score_d").join(dd, "doc_id")
        if score_mode in ("total", "avg"):
            dec = F.sum(F.col("score_d").cast("decimal(38,10)"))
            sc = dec.cast("double") if score_mode == "total" else (
                dec.cast("double") / F.count(F.lit(1))
            )
        elif score_mode == "max":
            sc = F.max("score_d")
        else:
            sc = F.min("score_d")
        parents = children.groupBy(parent_by).agg(
            sc.alias("score_d"), F.count(F.lit(1)).alias("n_hits")
        )
        return (
            parents.select(
                parent_by,
                F.col("score_d").cast(out_t).alias("score"),
                F.col("n_hits").cast("long").alias("n_hits"),
            )
            .orderBy(F.desc("score"), F.asc(parent_by))
            .limit(k)
        )
    if group_by is None and collapse_by is None:
        if after is not None:
            # strictly after the cursor in (score desc, doc_id asc) order;
            # the comparison runs on the OUTPUT-typed score so a cursor taken
            # from a previous page's rows matches exactly (float32-safe)
            a_s = F.lit(float(after[0])).cast(out_t)
            sc = F.col("score_d").cast(out_t)
            agg = agg.where(
                (sc < a_s) | ((sc == a_s) & (F.col("doc_id") > int(after[1])))
            )
        return _finish_topk(spark, rd, agg, k, float32)
    ranked = agg.select("doc_id", F.col("score_d").cast(out_t).alias("score"))
    if group_by is not None:
        # Lucene grouping-module analog (TopGroups): k best hits per group.
        # Plan shape at scale: the full scored match set (already one row per
        # doc after the groupBy agg above) joins doc_dim on doc_id — a plain
        # shuffle join, NOT broadcast: the match set is unbounded here —
        # then one window shuffle on the group key; output is bounded by
        # (#groups × k), never corpus size. No global sort anywhere.
        dd = rd.cat.read_doc_dim(spark).select(
            "doc_id", "conv_id", "turn_idx", group_by
        )
        w = Window.partitionBy(group_by).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            ranked.join(dd, "doc_id")
            .withColumn("grp_rank", F.row_number().over(w))
            .where(F.col("grp_rank") <= F.lit(k))
            .select(
                group_by, "grp_rank", "doc_id", "score", "conv_id", "turn_idx"
            )
            .orderBy(F.asc(group_by), F.asc("grp_rank"))
        )
    if collapse_by is not None:
        # Field collapsing (CollapsingTopDocsCollector analog): keep the best
        # hit per collapse-key value, then global top-k of representatives.
        # Plan shape at scale: match-set join to doc_dim (shuffle join — the
        # match set is unbounded), ONE window shuffle on the collapse key to
        # pick rn=1 per key, then TakeOrderedAndProject — no global sort; the
        # post-collapse set is ≤ #distinct-keys rows and the limit bounds the
        # driver collect at k. `after` cursors address the COLLAPSED ranking,
        # so the filter runs here, after representative selection.
        dd_cols = ["doc_id", "conv_id", "turn_idx"]
        if collapse_by not in dd_cols:
            dd_cols.append(collapse_by)
        dd = rd.cat.read_doc_dim(spark).select(*dd_cols)
        w = Window.partitionBy(collapse_by).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        reps = (
            ranked.join(dd, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if after is not None:
            a_s = F.lit(float(after[0])).cast(out_t)
            reps = reps.where(
                (F.col("score") < a_s)
                | ((F.col("score") == a_s) & (F.col("doc_id") > int(after[1])))
            )
        out_cols = ["doc_id", "score", "conv_id", "turn_idx"] + (
            [collapse_by] if collapse_by not in ("doc_id", "conv_id", "turn_idx")
            else []
        )
        return (
            reps.select(*out_cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )


PHRASE_OCC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("slot", IntegerType()),  # index into the phrase's token list
        StructField("adj", LongType()),      # position - slot (phrase anchor)
        StructField("dl_d", DoubleType()),   # dequantized norm (same for a doc)
    ]
)


def make_phrase_occ_kernel(
    slot_of_term: dict[str, list[int]], keep_negative_adj: bool = False
):
    """mapInPandas kernel: positional posting blocks → anchor-adjusted
    occurrence rows. An occurrence of the term filling phrase slot i at
    position p contributes (doc, slot=i, adj=p-i): a phrase match at anchor a
    is exactly a (doc, a) group containing every slot 0..n-1 (Lucene
    ExactPhraseMatcher's advance-to-alignment, re-expressed as one groupBy).
    Occurrences are expanded once per slot their term fills (repeated-term
    phrases like "a b a" fan out ≤ phrase-length ways).

    keep_negative_adj — exact (slop=0) matching can drop adj<0 occurrences
    (an anchor is ≥ 0, so they can never align), but SLOPPY matching cannot:
    in "b a" vs phrase "a b"~2, b's adjusted position is -1 and the
    transposed match lives in the window [-1, 1]."""

    def occ(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids, counts = decode_block_doc_ids(
                pdf["first_doc"].to_numpy(), list(pdf["doc_gaps"])
            )
            tfs, _ = unpack_u64_blocks(list(pdf["tfs"]))
            dlqs, _ = unpack_u64_blocks(list(pdf["dls"]))
            pos, _ = unpack_u64_blocks(list(pdf["pos"]))
            dl_d = dequantize_dl_np(dlqs.astype(np.int64))
            # occurrence-level expansion of the per-posting arrays
            tfs64 = tfs.astype(np.int64)
            o_doc = np.repeat(doc_ids, tfs64)
            o_dl = np.repeat(dl_d, tfs64)
            # occurrence → block (for the term), via posting → block
            blk_of_post = np.repeat(np.arange(len(counts)), counts)
            o_blk = np.repeat(blk_of_post, tfs64)
            terms = pdf["term"].to_numpy()
            outs = []
            for term, slots in slot_of_term.items():
                tmask = (terms == term)[o_blk]
                if not tmask.any():
                    continue
                p = pos[tmask].astype(np.int64)
                d = o_doc[tmask]
                dl = o_dl[tmask]
                for s in slots:
                    adj = p - s
                    if keep_negative_adj:
                        keep = np.ones(len(adj), dtype=bool)
                    else:
                        keep = adj >= 0  # slot s needs s tokens before it
                    outs.append(
                        pd.DataFrame(
                            {
                                "doc_id": d[keep],
                                "slot": np.full(int(keep.sum()), s, dtype=np.int32),
                                "adj": adj[keep],
                                "dl_d": dl[keep],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return occ


def _lucene_sloppy_freq(pos_by_slot: list[np.ndarray], slop: int) -> float:
    """Sloppy phrase frequency of ONE doc — the published SloppyPhraseMatcher
    sweep (Lucene 8 ``SloppyPhraseMatcher.nextMatch``), no-repeats case.

    pos_by_slot[i] = sorted ADJUSTED positions (position - slot) of the term
    filling slot i. The sweep pops the minimum adjusted position, refines the
    match length (end - min) while the popped slot advances without passing
    the runner-up head, and on each completed minimization with
    matchLength <= slop adds Lucene's sloppy weight 1/(1+matchLength); `end`
    (the max adjusted position seen) is updated the moment a position is
    consumed (advancePP), and exhaustion of any slot ends the doc with one
    final check. Heads tie-break (position, slot) = Lucene's pq (position,
    offset). Sequential PER DOC by nature — exactly as in Lucene — and
    embarrassingly parallel across docs."""
    _POPPED = 1 << 62
    heads = np.array([a[0] for a in pos_by_slot], dtype=np.int64)
    ptr = [0] * len(pos_by_slot)
    end = int(heads.max())
    s0 = int(np.argmin(heads))  # first minimum → smallest slot on ties
    p0 = int(heads[s0])
    heads[s0] = _POPPED
    match_len = end - p0
    nxt = int(heads.min())
    freq = 0.0
    while True:
        ptr[s0] += 1
        arr = pos_by_slot[s0]
        if ptr[s0] >= len(arr):
            break  # the minimum slot is exhausted: no further full windows
        p = int(arr[ptr[s0]])
        if p > end:
            end = p
        if p > nxt:  # done minimizing the current match length
            if match_len <= slop:
                freq += 1.0 / (1.0 + match_len)
            heads[s0] = p
            s0 = int(np.argmin(heads))
            p0 = int(heads[s0])
            heads[s0] = _POPPED
            match_len = end - p0
            nxt = int(heads.min())
        else:
            ml2 = end - p
            if ml2 < match_len:
                match_len = ml2
    if match_len <= slop:
        freq += 1.0 / (1.0 + match_len)
    return freq


SLOPPY_PF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pf", DoubleType()),   # Σ 1/(1+matchLength) — float freq
        StructField("dl_d", DoubleType()),
    ]
)


def make_sloppy_sweep_kernel(
    slot_ids: Sequence[int],
    slop: int,
    freq_of=None,
    optional_slots: frozenset = frozenset(),
):
    """mapInPandas kernel over occurrence rows co-located by doc_id
    (repartition("doc_id") upstream): per doc, slice each slot's sorted
    adjusted positions and run the Lucene sloppy sweep. ``slot_ids`` are the
    occurrence rows' slot ids in rank order (a phrase's offsets keep the gaps
    of removed stopwords); freq_of's i-th array is the slot of rank i. Docs are independent;
    the trailing (possibly batch-split) doc is carried to the next Arrow
    batch, same pattern as the partition encoder. Docs missing a REQUIRED
    slot are skipped (the upstream conjunction semi-join already removed
    them; the re-check makes the kernel safe standalone); slots named in
    ``optional_slots`` (e.g. a SpanNot exclusion clause) may be absent —
    freq_of sees an empty position array for them.

    freq_of(pos_by_slot, slop) — per-doc float frequency from the per-slot
    sorted adjusted-position arrays; defaults to the SloppyPhraseMatcher
    sweep (_lucene_sloppy_freq). spans.search_span_near reuses this kernel
    (same occ rows, same doc slicing, same tail-carry) with the ordered
    NearSpansOrdered frequency instead."""
    freq_of = freq_of or _lucene_sloppy_freq
    _empty = np.empty(0, dtype=np.int64)
    rank = {s: i for i, s in enumerate(slot_ids)}
    n_required = len(rank) - len(optional_slots)

    def _sweep_docs(pdf: pd.DataFrame) -> pd.DataFrame | None:
        d = pdf["doc_id"].to_numpy()
        s = pdf["slot"].to_numpy()
        a = pdf["adj"].to_numpy()
        dl = pdf["dl_d"].to_numpy()
        order = np.lexsort((a, s, d))
        d, s, a, dl = d[order], s[order], a[order], dl[order]
        bounds = np.flatnonzero(np.diff(d)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(d)]))
        out_doc, out_pf, out_dl = [], [], []
        for lo, hi in zip(starts, ends):
            ss = s[lo:hi]
            slot_bounds = np.flatnonzero(np.diff(ss)) + 1
            sl = np.concatenate(([0], slot_bounds))
            sh = np.concatenate((slot_bounds, [hi - lo]))
            present = ss[sl]
            n_req_present = len(present) - sum(
                1 for t in present if t in optional_slots
            )
            if n_req_present != n_required:
                continue  # a required slot is absent: the doc cannot match
            pos_by_slot = [_empty] * len(rank)
            for i, j in zip(sl, sh):
                pos_by_slot[rank[int(ss[i])]] = a[lo + i:lo + j]
            pf = freq_of(pos_by_slot, slop)
            if pf > 0.0:
                out_doc.append(int(d[lo]))
                out_pf.append(pf)
                out_dl.append(float(dl[lo]))
        if not out_doc:
            return None
        return pd.DataFrame({"doc_id": out_doc, "pf": out_pf, "dl_d": out_dl})

    def sweep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if not len(pdf):
                continue
            dcol = pdf["doc_id"].to_numpy()
            complete = dcol != dcol[-1]
            if not complete.any():
                pend = pdf
                continue
            cut = int(np.flatnonzero(complete)[-1]) + 1
            out = _sweep_docs(pdf.iloc[:cut])
            pend = pdf.iloc[cut:].reset_index(drop=True)
            if out is not None:
                yield out
        if pend is not None and len(pend):
            out = _sweep_docs(pend)
            if out is not None:
                yield out

    return sweep


def _require_positions(rd: IndexReader, kind: str) -> None:
    """Positional queries read the position payload of every segment."""
    if not all(s.get("positions", False) for s in rd.manifest["segments"]):
        raise ValueError(
            f"{kind} search requires an index built with positions=True"
        )


def _present_terms(
    rd: IndexReader, fld: str, groups: list[list[str]]
) -> tuple[dict, list[list[str]]]:
    """One term_stats lookup for every term of ``groups`` (slots, clauses,
    an exclusion list), and each group with its absent terms dropped —
    IndexSearcher skips zero-docFreq term statistics the same way."""
    stats = rd.term_stats(list(dict.fromkeys(t for g in groups for t in g)), fld)
    return stats, [[t for t in g if stats.get(t, (0, 0))[0] > 0] for g in groups]


def _slot_map(slots: Iterable[tuple[int, list[str]]]) -> dict[str, list[int]]:
    """term → the slot ids it fills, from (slot id, terms) pairs. A term may
    fill several slots (a repeated phrase term, a span_contain term on both
    sides, an include term that is also excluded)."""
    slot_of_term: dict[str, list[int]] = {}
    for s, terms in slots:
        for t in terms:
            slot_of_term.setdefault(t, []).append(s)
    return slot_of_term


def _conjunction(
    postings: DataFrame, slot_of_term: dict[str, list[int]], required: set[int]
) -> DataFrame:
    """The two-phase approximation (Lucene's term conjunction under
    PhraseQuery and SpanNear): doc_ids holding >= 1 present term of EVERY
    required slot, from a postings pass that never reads the position
    payload (decode_postings projects it away). Each term maps to the array
    of required slots it fills, so a term filling several slots covers each;
    terms filling only optional slots map to nothing."""
    req = {
        t: [s for s in ss if s in required] for t, ss in slot_of_term.items()
    }
    slots_of = F.create_map(*[
        x for t, ss in req.items() if ss
        for x in (F.lit(t), F.array(*[F.lit(s) for s in ss]))
    ])
    return (
        decode_postings(postings)
        .select("doc_id", F.explode(slots_of[F.col("term")]).alias("_s"))
        .groupBy("doc_id")
        .agg(F.count_distinct("_s").alias("_ns"))
        .where(F.col("_ns") == F.lit(len(required)))
        .select("doc_id")
    )


def _pseudo_term_scores(rows: DataFrame, idf: float, avgdl: float) -> DataFrame:
    """(doc_id, pf, dl_d) → (doc_id, score_d): the one SimScorer of every
    positional and summed-tf query — the matches score as a pseudo-term of
    frequency pf, idf · pf / (pf + k1·(1-b+b·dl/avgdl))."""
    return rows.select(
        "doc_id",
        bm25_term_score_expr(
            F.col("pf"), F.lit(idf), F.col("dl_d"), avgdl
        ).alias("score_d"),
    )


def _positional_doc_scores(
    rd: IndexReader,
    fld: str,
    stats: dict,
    slot_of_term: dict[str, list[int]],
    idf: float,
    avgdl: float,
    del_ids: DataFrame | None,
    filter_cond: Column | str | None,
    freq_of=None,
    slop: int = 0,
    optional_slots: frozenset = frozenset(),
) -> DataFrame:
    """The positional plan every phrase and span query runs: one seek of
    the slot terms → the occurrence stage (make_phrase_occ_kernel, then the
    liveDocs mask) → pf per doc → the pseudo-term score.

    freq_of=None is the exact phrase: an anchor matches iff every slot is
    present at it, pf = #anchors (two groupBys; (doc, slot, adj) rows are
    unique, so count(*) == count(distinct slot)). Otherwise the two-phase
    plan of Lucene's sloppy PhraseQuery and SpanNear: the term conjunction
    (when more than one slot is required) gates the occurrence rows, which
    are co-located by doc and swept per doc by make_sloppy_sweep_kernel
    with ``freq_of``."""
    postings = rd._seek_postings(sorted(slot_of_term), fld, stats)
    occ = _live_docs(
        postings.mapInPandas(
            make_phrase_occ_kernel(
                slot_of_term, keep_negative_adj=freq_of is not None
            ),
            PHRASE_OCC_SCHEMA,
        ),
        rd, del_ids, filter_cond,
    )
    required = {s for ss in slot_of_term.values() for s in ss} - optional_slots
    if freq_of is None:
        anchors = (
            occ.groupBy("doc_id", "adj")
            .agg(F.count(F.lit(1)).alias("ns"), F.max("dl_d").alias("dl_d"))
            .where(F.col("ns") == F.lit(len(required)))
        )
        pf = anchors.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("pf"), F.max("dl_d").alias("dl_d")
        )
    else:
        if len(required) > 1:
            occ = occ.join(
                _conjunction(postings, slot_of_term, required),
                "doc_id", "left_semi",
            )
        pf = (
            occ.repartition("doc_id")
            .sortWithinPartitions("doc_id")  # tail-carry needs contiguous docs
            .mapInPandas(
                make_sloppy_sweep_kernel(
                    sorted(required | optional_slots), slop, freq_of=freq_of,
                    optional_slots=optional_slots,
                ),
                SLOPPY_PF_SCHEMA,
            )
        )
    return _pseudo_term_scores(pf, idf, avgdl)


def phrase_doc_scores(
    spark: SparkSession,
    rd: IndexReader,
    slots: list[str],
    fld: str,
    slop: int = 0,
    del_ids: DataFrame | None = None,
    filter_cond: Column | str | None = None,
    offsets: list[int] | None = None,
) -> DataFrame | None:
    """Per-doc float64 phrase BM25 scores: (doc_id, score_d), matching docs
    only — the shared core of search_phrase and the boolean executor's
    Q.phrase leaves (booleanq.search_boolean joins this onto its per-doc
    pivot). Returns None when a slot term is absent from the field (the
    phrase provably matches nothing). Scoring per Lucene PhraseWeight — see
    search_phrase. `slots` must be POST-CHAIN terms; `offsets` are their
    phrase positions (default 0..n-1) — under a stopword-removing analyzer
    the gaps of removed stopwords stay in the offsets (Lucene posInc), so
    "big the dog" only exact-matches documents with the same gap, and sloppy
    matching measures its match length over the same adjusted positions.

    MultiPhraseQuery generalization [Lucene-10.2.0, via pom.xml:42-43]:
    a slot may be a tuple/list of ALTERNATIVE terms — any alternative
    occupies the slot ("quick (brown|red) fox"). A slot whose alternatives
    are ALL absent ⇒ no match (None); absent alternatives within a slot are
    simply dropped, exactly as MultiPhraseWeight skips terms with no
    TermStatistics. idf sums over every PRESENT term occurrence across the
    term arrays (the single-term-per-slot case reduces to PhraseWeight's
    per-slot sum). The (doc, slot, adj) occurrence rows stay unique under
    alternatives — two terms can't share one token position — so the exact
    anchor test (all n slots present at one anchor) is unchanged, and the
    sloppy sweep sees each slot's UNION of alternative positions (Lucene's
    union postings enum per position)."""
    if not slots:
        return None
    alts = [[s] if isinstance(s, str) else list(dict.fromkeys(s)) for s in slots]
    if any(not a for a in alts):
        raise ValueError("every phrase slot needs at least one term")
    if offsets is None:
        offsets = list(range(len(alts)))
    if len(offsets) != len(alts) or sorted(set(offsets)) != list(offsets):
        raise ValueError("offsets must be strictly increasing, one per slot")
    _require_positions(rd, "phrase")
    f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
    if f_docs == 0:
        return None
    stats, present = _present_terms(rd, fld, alts)
    if any(not a for a in present):
        return None  # a slot with no present alternative ⇒ no match
    flat = [t for a in present for t in a]
    idf_sum = float(sum(rd.idf(stats[t][0], f_docs) for t in flat))
    n = len(alts)
    sloppy = slop > 0 and n > 1
    if sloppy and len(set(flat)) < len(flat):
        raise ValueError(
            "slop>0 with a term repeated across phrase slots is not "
            "supported (Lucene's repeats machinery; use slop=0 or "
            "distinct terms)"
        )
    return _positional_doc_scores(
        rd, fld, stats, _slot_map(zip(offsets, present)), idf_sum, f_avgdl,
        del_ids, filter_cond, freq_of=_lucene_sloppy_freq if sloppy else None,
        slop=slop,
    )


def _positional_topk(
    spark: SparkSession,
    rd: IndexReader,
    k: int,
    field: str | None,
    float32: bool,
    doc_scores,
    no_match: bool = False,
) -> DataFrame:
    """The top-k entry of every phrase, span and summed-tf search: the
    empty guards (``no_match`` — the query provably matches nothing — k <= 0,
    no segments, an empty field), the k cap, tombstones, then _finish_topk
    over ``doc_scores(fld, del_ids)`` (per-doc score_d rows, or None)."""
    if no_match or k <= 0 or not rd.manifest["segments"]:
        return _empty_hits(spark, float32)
    fld = rd.resolve_field(field)
    f_docs = rd.field_stats_of(fld)[0]
    if f_docs == 0:
        return _empty_hits(spark, float32)
    scored = doc_scores(fld, deleted_doc_ids(spark, rd.cat))
    return _finish_topk(spark, rd, scored, min(k, f_docs), float32)


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    slop: int = 0,
) -> DataFrame:
    """Top-k phrase BM25 search (Lucene PhraseQuery; slop=0 exact, slop>0
    sloppy).

    Requires an index built with positions=True (build_segment). Scoring
    follows Lucene's PhraseWeight: tf = phrase frequency in the doc (pf),
    idf = SUM of the slot terms' idfs (repeated terms count once per slot),
    norm = the document's usual dl — i.e. the phrase scores like a
    pseudo-term with frequency pf:
        score = Σ_slots idf(t_slot) · pf / (pf + k1·(1-b+b·dl/avgdl))

    slop=0 (exact): pf = number of exact phrase occurrences. Plan shape (one
    bucket+term-pruned scan, two shuffles on doc-keys):
      postings(terms ∪, pruned) → occurrence kernel (adj = pos - slot)
      → groupBy(doc, adj): anchor is a match iff all n slots present
      → groupBy(doc): pf = #anchors → JVM score expr → top-k.

    slop>0 (sloppy): pf = Σ over matches of 1/(1+matchLength), matches and
    lengths produced by the published SloppyPhraseMatcher sweep
    (_lucene_sloppy_freq). Plan shape mirrors Lucene's own two-phase
    PhraseQuery (the approximation is the TERM CONJUNCTION; positions are
    only evaluated on docs passing it):
      postings scan #1 (positions NOT read) → docs containing every phrase
      term → semi-join gates the occurrence rows → repartition(doc) →
      per-doc sweep kernel → JVM score expr → top-k.
    Phrases with REPEATED terms are rejected for slop>0 (Lucene routes those
    through its repeats machinery; out of scope here — loud ValueError, not
    silent wrong answers). Single-term phrases route to the exact path
    (PhraseQuery rewrites to TermQuery; slop is irrelevant).
    """
    if slop < 0:
        raise ValueError("slop must be >= 0")
    rd = reader or IndexReader(spark, index_dir)
    pairs = rd.analyze_with_offsets(phrase)
    return _positional_topk(
        spark, rd, k, field, float32,
        lambda fld, del_ids: phrase_doc_scores(
            spark, rd, [t for t, _o in pairs], fld, slop=slop,
            del_ids=del_ids, filter_cond=filter_cond,
            offsets=[o for _t, o in pairs],
        ),
        no_match=not pairs,
    )


def search_multiphrase(
    spark: SparkSession,
    index_dir: str,
    slots: list,
    k: int = 10,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    slop: int = 0,
) -> DataFrame:
    """Top-k multi-phrase BM25 search — the Lucene MultiPhraseQuery analog
    [Lucene-10.2.0, via pom.xml:42-43]: a phrase whose slots each accept a
    SET of alternative terms, e.g. ``[["quick"], ["brown", "red"], "fox"]``.
    A document matches at an anchor when every slot has SOME alternative at
    its position; pf counts anchors (slop=0) or runs the sloppy sweep over
    each slot's union of alternative positions (slop>0 — the union postings
    enum Lucene builds per position). Scores like a pseudo-term with
    frequency pf and idf = Σ over every present term occurrence in the term
    arrays. Slot terms are RAW index terms (Lucene MultiPhraseQuery takes
    Terms, not analyzed text) — each must be a single analyzer token.

    Plan shape = search_phrase's (one bucket+term-pruned positional scan →
    occurrence kernel → anchor/sweep groupBys → TakeOrderedAndProject);
    alternatives only widen the term IN-list of the same scan.
    """
    rd = reader or IndexReader(spark, index_dir)
    norm: list[tuple[str, ...]] = []
    for s in slots:
        a = (s,) if isinstance(s, str) else tuple(s)
        toks: list[str] = []
        for t in a:
            tt = rd.analyze(t)
            if len(tt) != 1:
                raise ValueError(
                    f"slot alternative must be one analyzer token, got {t!r}"
                )
            toks.append(tt[0])
        norm.append(tuple(dict.fromkeys(toks)))
    return _positional_topk(
        spark, rd, k, field, float32,
        lambda fld, del_ids: phrase_doc_scores(
            spark, rd, norm, fld, slop=slop, del_ids=del_ids,
            filter_cond=filter_cond,
        ),
        no_match=not norm,
    )


def search_phrase_prefix(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    max_expansions: int = 64,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
) -> DataFrame:
    """Phrase-prefix search ("match_phrase_prefix"): the LAST phrase token is
    treated as a prefix and expanded against the term dictionary, then the
    whole thing runs as a MultiPhraseQuery with the expansion as the last
    slot's alternatives — the published MultiPhrasePrefixQuery shape over
    Lucene's MultiPhraseQuery [Lucene-10.2.0, via pom.xml:42-43]. The
    expansion takes the first ``max_expansions`` terms in dictionary (term)
    order — deterministic, like a TermsEnum seek — and, deviating from the
    silent cap, raises TooManyClauses when the prefix matches more (house
    rule: loud errors over silently truncated semantics, same as
    search_multiterm). An empty expansion ⇒ empty result.
    """
    from cuvs_lucene_spark.multiterm import expand_terms

    rd = reader or IndexReader(spark, index_dir)
    empty = _empty_hits(spark, float32)
    toks = rd.analyze(phrase)
    if k <= 0 or not toks or not rd.manifest["segments"]:
        return empty
    expansion = expand_terms(
        rd, field, prefix=toks[-1], max_expansions=max_expansions
    )
    if not expansion:
        return empty
    slots: list = [(t,) for t in toks[:-1]] + [tuple(expansion)]
    return search_multiphrase(
        spark, index_dir, slots, k=k, filter_cond=filter_cond, reader=rd,
        float32=float32, field=field, slop=0,
    )


def _prune_blocks(
    spark: SparkSession,
    rd: IndexReader,
    postings: DataFrame,
    term_meta: dict[str, tuple[float, int]],
    k: int,
    mode: str,
    filter_cond,
    m_per_term: int,
    del_ids: DataFrame | None = None,
    avgdl: float | None = None,
    after: tuple[float, int] | None = None,
    ex_ids: DataFrame | None = None,
    similarity: str = "bm25",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Bound-safe distributed block-max pruning.

    Upper bound of any posting in a block for term t:
        bm25:    ub_t(block) = w_t * idf_t * max_tf / (max_tf + K(min_dl_d))
        classic: ub_t(block) = w_t * idf'² * √max_tf / √min_dl_d
        lmd:     ub_t(block) = w_t * max(0, ln(1+max_tf/(μ·p_c))
                                            + ln(μ/(min_dl_d+μ)))
        lmjm:    ub_t(block) = w_t * ln(1 + ((1−λ)·max_tf/min_dl_d)/(λ·p_c))
    (every score increases in tf, decreases in dl — SURVEY §4.3.6, so the
    same stored per-block (max_tf, min_dl_d) stats bound all Similarities). A doc's total
    score ≤ ub_t(its block) + Σ_{t'≠t} UB(t') with UB(t') the term-global max
    block bound. Phase 1: exactly score the union of the top-m blocks per
    term → θ = k-th best total. Phase 2: keep blocks whose relaxed bound
    exceeds θ. Pruning never drops a true top-k doc. NOT applied in AND mode:
    θ would come from phase-1 partial sums of docs that may fail the
    conjunction, overestimating the true conjunctive k-th best and making the
    prune unsound — AND queries use the intersection path instead.

    searchAfter composition (``after=(score, doc_id)``): θ must bound the
    k-th best score OF THE PAGE (docs strictly past the cursor), not of the
    whole index — a page-1 θ would prune blocks that still hold page-2 docs.
    A phase-1 doc's partial sum is a LOWER bound of its true total (terms
    whose top-m blocks miss the doc contribute 0), so "partial < cursor"
    cannot prove page membership. Instead phase 1 keeps only docs whose
    total UPPER bound — partial + Σ UB over terms NOT matched in phase 1 —
    is strictly below the cursor score: those docs are provably in the page,
    their partials lower-bound their true totals, and the k-th best such
    partial is therefore ≤ the page's true k-th best. Fewer than k provable
    page members → no sound θ exists → fall back to the exhaustive scan.
    Cursor-tied docs (score == cursor, doc_id > cursor) are never pruned:
    every θ candidate's partial < cursor, so θ < cursor ≤ their block bound.
    """
    if mode == "and":
        return postings
    if avgdl is None:
        avgdl = rd.avgdl
    idf_map = F.create_map(
        *[x for t, (idf, w) in term_meta.items() for x in (F.lit(t), F.lit(idf * w))]
    )
    if similarity == "classic":
        ub_expr = (
            idf_map[F.col("term")]
            * F.sqrt(F.col("max_tf").cast("double"))
            / F.sqrt(F.col("min_dl_d").cast("double"))
        )
    elif similarity in ("lmd", "lmjm"):
        # LM block bounds: each per-posting score increases in tf and
        # decreases in dl, so (max_tf, min_dl_d) bounds the block just
        # like BM25/classic; meta[0] is p_c here, and the weight multiplies
        # OUTSIDE the ≥0 clamp (the clamp commutes with a positive boost).
        pc_map = F.create_map(
            *[x for t, (pc, _) in term_meta.items() for x in (F.lit(t), F.lit(pc))]
        )
        w_map = F.create_map(
            *[x for t, (_, w) in term_meta.items() for x in (F.lit(t), F.lit(float(w)))]
        )
        if similarity == "lmd":
            ub_expr = w_map[F.col("term")] * F.greatest(
                F.lit(0.0),
                F.log1p(
                    F.col("max_tf").cast("double")
                    / (F.lit(LMD_MU) * pc_map[F.col("term")])
                )
                + F.log(
                    F.lit(LMD_MU)
                    / (F.col("min_dl_d").cast("double") + F.lit(LMD_MU))
                ),
            )
        else:
            ub_expr = w_map[F.col("term")] * F.log1p(
                (
                    F.lit(1.0 - LMJM_LAMBDA)
                    * F.col("max_tf").cast("double")
                    / F.col("min_dl_d").cast("double")
                )
                / (F.lit(LMJM_LAMBDA) * pc_map[F.col("term")])
            )
    else:
        kf = F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("min_dl_d").cast("double") / F.lit(avgdl)
        )
        ub_expr = (
            idf_map[F.col("term")]
            * F.col("max_tf").cast("double")
            / (F.col("max_tf").cast("double") + kf)
        )
    # project to the phase-1 working set BEFORE persisting: `_ub` for the
    # bound agg + window, (block_id, salt) for the deterministic window order,
    # and the score-kernel inputs — NOT `pos` or the remaining block stats,
    # which would otherwise be scanned, shipped and cached for nothing.
    bounded = postings.select(
        *SCORE_KERNEL_COLS,
        "block_id",
        "salt",
        ub_expr.alias("_ub"),
    ).persist()

    # term-global max block bound (one tiny agg)
    ub_rows = bounded.groupBy("term").agg(F.max("_ub").alias("mub")).collect()
    term_ub = {r["term"]: float(r["mub"]) for r in ub_rows}
    sum_ub = sum(term_ub.values())

    # phase 1: exact scores over the densest blocks per term → threshold θ
    from pyspark.sql.window import Window

    w = Window.partitionBy("term").orderBy(F.desc("_ub"), F.asc("block_id"), F.asc("salt"))
    top_blocks = bounded.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= m_per_term
    ).drop("_rk")
    # float32 phase-1 arithmetic is fine for the cursorless θ (phase 2
    # subtracts an absolute slack and pruned==exhaustive is pytest-pinned),
    # but the PAGE-LOCAL θ's membership test compares partial sums against
    # the cursor score: above |score|≈8 a float32 ULP exceeds a 1e-6 slack
    # and a boundary doc could be misclassified as a provable page member,
    # overshooting θ by ~1 ULP. searchAfter therefore runs phase 1 in
    # float64 and uses a RELATIVE slack below.
    # dead, filtered-out and MUST_NOT docs must not contribute to θ
    phase1 = _live_docs(
        _score_postings(
            top_blocks, term_meta, avgdl, float32=(after is None),
            similarity=similarity, k1=k1, b=b,
        ),
        rd, del_ids, filter_cond, ex_ids,
    )
    if after is None:
        theta_rows = (
            phase1.groupBy("doc_id")
            .agg(F.sum("score").alias("s"))
            .orderBy(F.desc("s"))
            .limit(k)
            .collect()
        )
    else:
        # page-local θ: keep only docs PROVABLY past the cursor — total upper
        # bound (partial + unmatched terms' global bounds) strictly below the
        # cursor score, with a slack RELATIVE to the cursor magnitude
        # (1e-6·max(1,|cursor|)) so the safety margin tracks the float ULP at
        # any score scale. See docstring for the soundness argument; tidx is
        # the term's rank in sorted(term_meta), the same mapping
        # make_score_kernel emits.
        ub_of_tidx = F.create_map(
            *[
                x
                for i, t in enumerate(sorted(term_meta))
                for x in (F.lit(i), F.lit(term_ub.get(t, 0.0)))
            ]
        )
        theta_rows = (
            phase1.withColumn("_tub", ub_of_tidx[F.col("tidx")])
            .groupBy("doc_id")
            .agg(F.sum("score").alias("s"), F.sum("_tub").alias("_mub"))
            .where(
                F.col("s") + (F.lit(sum_ub) - F.col("_mub"))
                < F.lit(float(after[0]) - 1e-6 * max(1.0, abs(float(after[0]))))
            )
            .orderBy(F.desc("s"))
            .limit(k)
            .collect()
        )
    if len(theta_rows) < k:
        bounded.unpersist()
        return postings  # not enough candidates to establish a threshold
    theta = float(theta_rows[-1]["s"])

    # phase 2: relaxed bound — block survives if its own bound plus the other
    # terms' global bounds can beat θ. (float64 slack: subtract an epsilon.)
    # The returned plan recomputes _ub from `postings` (a cheap pruned scan)
    # instead of referencing `bounded`, so the phase-1 cache can be released
    # here — previously every successful pruned query leaked one persisted
    # DataFrame for the session lifetime.
    bounded.unpersist()
    slack_map = F.create_map(
        *[
            x
            for t in term_meta
            for x in (F.lit(t), F.lit(sum_ub - term_ub[t]))
        ]
    )
    ub = ub_expr  # same similarity-specific bound as phase 1
    # Slack must be RELATIVE to θ: phase 1 scores in float32 (Lucene parity),
    # so θ can exceed the float64 block bound by ~1 float32 ULP (1.2e-7
    # relative) whenever the θ-doc's tf == max_tf and dl == min_dl of its own
    # block — guaranteed in degenerate corpora (caught by the n_docs=1
    # randomized-oracle case, where a fixed 1e-9 slack pruned the only block).
    return postings.where(
        ub + slack_map[F.col("term")]
        >= F.lit(theta - 1e-6 * max(1.0, abs(theta)))
    )


# Lucene SmallFloat.byte4ToInt as a SQL expression over the quantized-norm
# byte column `c` (the inverse of analysis.small_float_int_to_byte4):
# bits = c & 7, shift = (c >> 3) - 1; shift == -1 → bits, else (bits|8)<<shift.
def _dequant_dl_col(c: str) -> Column:
    return F.expr(
        f"CASE WHEN shiftright({c}, 3) = 0 THEN cast({c} & 7 AS bigint) "
        f"ELSE shiftleft(cast(({c} & 7) | 8 AS bigint), shiftright({c}, 3) - 1) "
        f"END"
    )


def _summed_tf_scores(
    rd: IndexReader,
    terms: list[str],
    fld: str,
    del_ids: DataFrame | None,
    filter_cond: Column | str | None,
    idf_of,
) -> DataFrame | None:
    """Per-doc (doc_id, score_d) of a term set scored as ONE pseudo-term
    with pf = Σ tf over its present terms (SpanOrQuery, SynonymQuery):
    bucket+term-pruned seek → Arrow decode to (doc_id, tf, dl_q) → liveDocs
    mask → one map-side-combinable groupBy(doc_id) summing integer tfs
    (exact, order-free — no pivot ordering needed) → the JVM pseudo-term
    expression with norms dequantized inline. Positions are never read.
    ``idf_of(dfs, n_docs)`` merges the present terms' docFreqs into the one
    idf. None when no term is present."""
    f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
    stats = rd.term_stats(terms, fld)
    present = [t for t in terms if stats.get(t, (0, 0))[0] > 0]
    if not present:
        return None
    rows = _live_docs(
        decode_postings(rd._seek_postings(present, fld, stats))
        .select("doc_id", "tf", "dl_q"),
        rd, del_ids, filter_cond,
    )
    # dl_q is constant per doc, so max() picks it without a second scan
    agg = rows.groupBy("doc_id").agg(
        F.sum("tf").alias("pf"), F.max("dl_q").alias("dl_q")
    )
    return _pseudo_term_scores(
        agg.select("doc_id", "pf", _dequant_dl_col("dl_q").alias("dl_d")),
        idf_of([stats[t][0] for t in present], f_docs), f_avgdl,
    )


def search_synonym(
    spark: SparkSession,
    index_dir: str,
    synonyms: str | list[str],
    k: int = 10,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
) -> DataFrame:
    """Blended multi-term scoring — the Lucene ``SynonymQuery`` analog
    [Lucene-10.2.0, via the reference's ``pom.xml:42-43``; SynonymQuery is
    the rewrite target Lucene's query parsers emit for analysis-time
    synonym expansion].

    Semantics (Lucene SynonymQuery, default boosts): the synonym set scores
    as ONE pseudo-term —
      - within-doc freq  = Σ tf over the synonym terms present in the doc
        (SynonymQuery's DisiWrapper sums the positional freqs);
      - docFreq for idf  = max over the terms' docFreqs (SynonymQuery merges
        collection stats with ``docFreq = max``, so idf is NOT summed — a
        doc matching two rare synonyms is not double-idf'd);
      - one BM25 saturation over the summed freq (tf-blending happens
        BEFORE the nonlinearity, which is exactly what distinguishes
        SynonymQuery from a BooleanQuery OR of the same terms).

    Plan shape at scale: _summed_tf_scores (bucket+term-pruned postings
    scan → decode → ONE groupBy(doc_id) summing integer tfs → JVM-side BM25
    expression) → TakeOrderedAndProject(k) → broadcast join of the k-row
    top-k against doc_dim. No Python in the scoring expression; the only
    kernel is the shared block decoder.
    """
    rd = reader or IndexReader(spark, index_dir)
    text = synonyms if isinstance(synonyms, str) else " ".join(synonyms)
    terms = sorted(set(rd.analyze(text)))
    return _positional_topk(
        spark, rd, k, field, float32,
        lambda fld, del_ids: _summed_tf_scores(
            rd, terms, fld, del_ids, filter_cond,
            # merged collection stats: docFreq = max (SynonymQuery.createWeight)
            lambda dfs, n: float(rd.idf(max(dfs), n)),
        ),
        no_match=not terms,
    )


RESCORE_MAX_WINDOW = 10_000


def rescore(
    spark: SparkSession,
    index_dir: str,
    query: str,
    rescore_query: str,
    k: int = 10,
    window: int = 30,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    mode: str = "or",
    rescore_mode: str = "or",
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    prune: bool | str = "auto",
) -> DataFrame:
    """Two-pass rescoring — the Lucene ``QueryRescorer`` analog
    [Lucene-10.2.0, via the reference's ``pom.xml:42-43``]: retrieve the
    top-``window`` hits of ``query``, re-score exactly those docs with
    ``rescore_query``, and return the top-``k`` under the combined score

        combined = query_weight * first + rescore_weight * second

    where ``second`` is 0 for window docs the rescore query does not match
    (QueryRescorer.combine(firstPassScore, secondPassMatches=false, _)).
    The canonical use is a cheap broad first pass re-ranked by a more
    precise (e.g. conjunctive or phrase-adjacent) second query.

    Like Lucene's Rescorer -- which operates on a materialized TopDocs --
    the window doc_ids pass through the driver; ``window`` is capped at
    RESCORE_MAX_WINDOW (loud error, never a silent OOM). Plan shape at
    scale: the first pass is the ordinary pruned/exhaustive top-k (the
    driver holds only `window` rows); the second pass scores ONLY the
    window docs -- its postings decode is cut down by an `isin(window_ids)`
    pre-filter pushed through `_accepted_doc_ids` -- then a broadcast
    k-row combine. Both passes' totals are deterministic float64 pivot
    sums; the combine is one fixed-order multiply-add per doc."""
    if window <= 0:
        raise ValueError("window must be positive")
    if window > RESCORE_MAX_WINDOW:
        raise ValueError(
            f"window={window} exceeds RESCORE_MAX_WINDOW={RESCORE_MAX_WINDOW} "
            "(the window materializes driver-side, exactly like Lucene's "
            "TopDocs-based Rescorer)"
        )
    rd = reader or IndexReader(spark, index_dir)
    first = search(
        spark, index_dir, query, k=window, mode=mode,
        filter_cond=filter_cond, reader=rd, float32=False, field=field,
        prune=prune,
    )
    win = first.select("doc_id", "score", "conv_id", "turn_idx").collect()
    score_t = "float" if float32 else "double"
    if not win:
        return _empty_hits(spark, float32)
    win_ids = [int(r["doc_id"]) for r in win]
    second = search(
        spark, index_dir, rescore_query, k=len(win_ids), mode=rescore_mode,
        filter_cond=F.col("doc_id").isin(win_ids), reader=rd, float32=False,
        field=field, prune=False,
    ).select("doc_id", F.col("score").alias("_s2"))
    first_df = spark.createDataFrame(
        [
            (int(r["doc_id"]), float(r["score"]), r["conv_id"], int(r["turn_idx"]))
            for r in win
        ],
        "doc_id long, _s1 double, conv_id string, turn_idx int",
    )
    w1, w2 = float(query_weight), float(rescore_weight)
    # broadcast the RIGHT side: Spark only builds the broadcast hash table on
    # the non-preserved side of a left-outer join (both sides are ≤window
    # rows; the hint keeps the combine shuffle-free)
    combined = (
        first_df
        .join(F.broadcast(second), "doc_id", "left")
        .select(
            "doc_id",
            (
                F.lit(w1) * F.col("_s1")
                + F.lit(w2) * F.coalesce(F.col("_s2"), F.lit(0.0))
            ).cast(score_t).alias("score"),
            "conv_id",
            "turn_idx",
        )
    )
    return (
        combined.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(min(k, len(win_ids)))
    )
