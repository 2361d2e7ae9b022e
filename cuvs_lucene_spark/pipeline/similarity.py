"""Embedding similarity search — the vector-side capability of the reference
(ANN top-k over float32 vectors, ``CuVS2510GPUVectorsReader.java:316-402``),
re-expressed for Spark without GPU: a brute-force exact engine (the analog of
the reference's brute-force fallback, ``CuVS2510GPUVectorsWriter.java:286-298``)
plus an IVF coarse-quantizer scale path (the analog of its CAGRA/HNSW
structure: restrict the scan to the most promising partitions).

All distance math is JVM Column expressions (zip_with/aggregate — codegen'd,
no Python in the hot path). The IVF "training" is a deterministic Lloyd
iteration expressed as DataFrame ops, so the index build is itself a Spark
job and reproducible bit-for-bit for the oracle.

Scale notes (10^9+ vectors): brute force is one scan + TakeOrderedAndProject
(fine as a verification oracle, not a serving path); IVF with C ~ sqrt(N)
centroids and nprobe ≪ C prunes the scan to nprobe/C of the data via a
partition-pruned read when the assignment table is written partitioned by
cid. Cosine-normalizing at build time turns cosine into dot product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _qlit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _apply_vector_mask(
    src: DataFrame,
    id_col: str,
    filter_cond: Column | str | None,
    deletes: DataFrame | None,
) -> DataFrame:
    """Shared acceptDocs analog for every vector-search path: exact
    PRE-filter (predicate over the source columns — Catalyst pushes it into
    the scan, replacing the reference's k×10 over-sampling post-filter,
    ``CuVS2510GPUVectorsReader.java:313-335``) + tombstone anti-join (the
    liveDocs mask the FTS path already applies, ``TestCuVSDeletedDocuments``
    semantics: deleted vectors are never returned). `deletes` is any
    DataFrame whose FIRST column holds the deleted ids."""
    if filter_cond is not None:
        cond = F.expr(filter_cond) if isinstance(filter_cond, str) else filter_cond
        src = src.where(cond)
    if deletes is not None:
        dl = deletes.select(F.col(deletes.columns[0]).cast("long").alias(id_col))
        src = src.join(F.broadcast(dl), id_col, "left_anti")
    return src


def cosine_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_cond: Column | str | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k: (rank, id, score) with ascending-id tie-break.

    One whole-stage-codegen'd scan; the global top-k is Spark's
    TakeOrderedAndProject (same shape as the BM25 path's final merge).
    filter_cond/deletes: see _apply_vector_mask — filtered ANN is the
    reference's primary query surface (``TestCuVSGaps.java:155-196``).
    """
    q = _qlit(query)
    embeddings = _apply_vector_mask(embeddings, id_col, filter_cond, deletes)
    # dimension guard (CuVS2510GPUVectorsReader.java:143-154 analog):
    # cosine_topk has no index metadata to pre-validate against — it is a
    # DataFrame op, not an index — so the check rides the scan itself:
    # zero extra jobs, and a mismatched row fails loudly naming both dims
    # instead of silently zip_with-truncating the dot product. NULL/empty
    # rows stay tolerated gaps (TestCuVSGaps analog — they score NULL and
    # fall out of the top-k exactly as before); only a PRESENT vector of
    # the wrong length raises.
    gap = F.col(vec_col).isNull() | (F.size(vec_col) == 0)
    dim_ok = gap | (F.size(F.col(vec_col)) == F.lit(len(query)))
    guarded = F.when(dim_ok, F.col(vec_col).cast("array<double>")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"cosine_topk: query vector has {len(query)} dims but "
                    f"row vector has "
                ),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )
    d = embeddings.select(
        F.col(id_col).alias("id"),
        (_dot(guarded, q) / (_norm(guarded) * _norm(q))).alias("cos"),
    )
    topk = (
        d.withColumn("score", F.round("cos", 6))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long"), F.col("id").cast("long"), "score"
    )


def cosine_topk_sql(
    table: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_sql: str | None = None,
) -> str:
    q = "[" + ", ".join(repr(float(x)) for x in query) + "]"
    where = f"WHERE {filter_sql}" if filter_sql else ""
    return f"""
WITH d AS (
  SELECT {id_col} AS id,
         round(list_inner_product(cast({vec_col} AS double[]), {q})
               / (sqrt(list_inner_product(cast({vec_col} AS double[]), cast({vec_col} AS double[])))
                  * sqrt(list_inner_product({q}, {q}))), 6) AS score
  FROM {table} {where}
),
topk AS (SELECT * FROM d ORDER BY score DESC, id ASC LIMIT {k})
SELECT row_number() OVER (ORDER BY score DESC, id ASC) AS rank, id, score
FROM topk ORDER BY rank
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantizer
# ---------------------------------------------------------------------------

def _nearest_cid_expr(cents: dict[int, list[float]], vec_col: str) -> Column:
    """Nearest-centroid column against DRIVER-held centroids: an Arrow-
    batched numpy kernel (one (batch × C × dim) distance matrix per Arrow
    batch, argmin row-wise). First-minimum argmin over ascending-cid order =
    the (d2, cid) struct tie-break. A literal Catalyst expression would need
    C·dim unrolled nodes (512 at C=8, dim=64) and pays seconds of analysis/
    codegen per job; the UDF's plan is one node at any dimension.
    """
    cids = np.array(sorted(cents), dtype=np.int64)
    mat = np.array([cents[int(c)] for c in cids], dtype=np.float64)

    @F.pandas_udf("int")
    def nearest(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series(np.empty(0, dtype=np.int32))
        x = np.stack(col.to_numpy()).astype(np.float64, copy=False)
        d2 = ((x[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(cids[np.argmin(d2, axis=1)].astype(np.int32))

    return nearest(F.col(vec_col))


def _collect_centroids(centroids: DataFrame) -> dict[int, list[float]]:
    """Centroids are tiny by contract (C ~ sqrt(N); ~3·10^4 rows even at
    10^9 vectors) — the driver-side copy is the IVF analog of Lucene holding
    the term dictionary in the reader."""
    return {
        int(r["cid"]): [float(x) for x in r["centroid"]]
        for r in centroids.collect()
    }


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means: init = the n_centroids lowest-id vectors
    (reproducible without RNG), then `iters` assign/mean rounds — each round
    ONE corpus scan (codegen'd literal-centroid assignment + per-dim sums)
    whose tiny (C-row) aggregate is collected to the driver, truncating the
    plan lineage between rounds. Returns (cid int, centroid array<double>);
    clusters that end a round empty are dropped (Lloyd's natural behavior).
    """
    spark = embeddings.sparkSession
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    init = emb.orderBy("id").limit(n_centroids).collect()
    cents = {i: [float(x) for x in r["v"]] for i, r in enumerate(init)}
    for _ in range(iters):
        # one NARROW pass: per-partition (assign → partial sums) kernel; the
        # driver merges #partitions × C tiny partials. No wide shuffle, and
        # no dim-wide aggregate expression to re-codegen every round.
        cids = np.array(sorted(cents), dtype=np.int64)
        mat = np.array([cents[int(c)] for c in cids], dtype=np.float64)

        def partial_sums(batches):
            sums: dict[int, np.ndarray] = {}
            counts: dict[int, int] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
                a = np.argmin(
                    ((x[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2), axis=1
                )
                for j, c in enumerate(cids):
                    m = a == j
                    if m.any():
                        c = int(c)
                        counts[c] = counts.get(c, 0) + int(m.sum())
                        sums[c] = sums.get(c, 0) + x[m].sum(axis=0)
            if counts:
                ks = sorted(counts)
                yield pd.DataFrame(
                    {
                        "cid": ks,
                        "s": [sums[c].tolist() for c in ks],
                        "n": [counts[c] for c in ks],
                    }
                )

        acc_s: dict[int, np.ndarray] = {}
        acc_n: dict[int, int] = {}
        for r in emb.mapInPandas(
            partial_sums, "cid int, s array<double>, n long"
        ).collect():
            c = int(r["cid"])
            acc_n[c] = acc_n.get(c, 0) + int(r["n"])
            acc_s[c] = acc_s.get(c, 0) + np.asarray(r["s"], dtype=np.float64)
        cents = {c: (acc_s[c] / acc_n[c]).tolist() for c in acc_n}
    return spark.createDataFrame(
        [(c, v) for c, v in sorted(cents.items())], "cid int, centroid array<double>"
    )


def ivf_search(
    embeddings: DataFrame,
    centroids: DataFrame,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_cond: Column | str | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Probe the nprobe centroids nearest the query; exact cosine within.

    nprobe ≥ n_centroids degrades to exact search (the correctness gate the
    driver checks) — detected up front so the degenerate case costs exactly
    one scan, no assignment at all. Small nprobe is the latency/recall trade
    (pytest pins recall vs the exact oracle). This in-memory path still
    re-assigns the scanned vectors; the serving path is ivf_build +
    ivf_probe_search, where the assignment is PRE-MATERIALIZED partitioned by
    cid and the probe becomes parquet partition pruning.

    filter_cond/deletes apply BEFORE scoring (exact pre-filter + liveDocs
    anti-join, _apply_vector_mask) — the filtered-ANN surface of the
    reference (``CuVS2510GPUVectorsReader.java:313-335``).
    """
    embeddings = _apply_vector_mask(embeddings, id_col, filter_cond, deletes)
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cents = _collect_centroids(centroids)
    if cents:
        cdim = len(next(iter(cents.values())))
        if len(query) != cdim:
            raise ValueError(
                f"ivf_search: query vector has {len(query)} dims but the "
                f"index was trained with dim={cdim}"
            )
    probe_ids = _nearest_centroid_ids(cents, query, nprobe)
    if len(probe_ids) >= len(cents):
        return cosine_topk(emb, query, k, id_col="id", vec_col="v")
    cand = emb.where(
        _nearest_cid_expr(cents, "v").isin([int(c) for c in probe_ids])
    )
    return cosine_topk(cand, query, k, id_col="id", vec_col="v")


def _nearest_centroid_ids(
    cents: dict[int, list[float]], query: list[float], nprobe: int
) -> list[int]:
    cids = np.array(sorted(cents), dtype=np.int64)
    mat = np.array([cents[int(c)] for c in cids], dtype=np.float64)
    d2 = ((mat - np.asarray(query, dtype=np.float64)) ** 2).sum(axis=1)
    return [int(c) for c in cids[np.lexsort((cids, d2))[:nprobe]]]


# ---------------------------------------------------------------------------
# persisted IVF index: probe = parquet partition pruning
# ---------------------------------------------------------------------------

def ivf_build(
    embeddings: DataFrame,
    ivf_dir: str,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> None:
    """Train + materialize the IVF index:

        <ivf_dir>/centroids/           (cid, centroid)            — tiny
        <ivf_dir>/vectors/cid=<c>/     (id, v) hive-partitioned   — corpus

    Writing the corpus partitioned by cid turns every later probe into a
    partition-pruned scan of nprobe/C of the data (the scale path the
    in-memory ivf_search cannot offer: at 10^9+ vectors re-assignment per
    query costs more than brute force). One assignment job at build time,
    amortized over every query — the same economics as the FTS index build.

    Pass `centroids` to skip training and lay the corpus out under an
    EXISTING codebook (the rebuild-under-same-codebook path ivf_compact and
    the append==rebuild lifecycle test use).
    """
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cents = (
        centroids
        if centroids is not None
        else ivf_train(embeddings, n_centroids, iters, id_col, vec_col)
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{ivf_dir}/centroids")
    (
        emb.withColumn("cid", _nearest_cid_expr(_collect_centroids(cents), "v"))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{ivf_dir}/vectors")
    )
    _CENTROIDS_CACHE.pop(ivf_dir, None)  # codebook may have changed


def ivf_append(
    spark,
    embeddings: DataFrame,
    ivf_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental segment append (the vector-side analog of the FTS path's
    streaming segment build, and of ``mergeOneField``'s fast path: existing
    structure untouched, new data slotted in): assign the NEW vectors with the
    PERSISTED codebook and append their rows into the cid layout. No re-read
    or rewrite of existing lists — cost is one scan of the appended batch.
    List-size skew drifts as the data distribution moves away from the
    training sample; ivf_compact is the re-train/compaction trigger.
    """
    cids, mat = _load_centroids(spark, ivf_dir)
    cents = {int(c): mat[i].tolist() for i, c in enumerate(cids)}
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    (
        emb.withColumn("cid", _nearest_cid_expr(cents, "v"))
        .write.mode("append")
        .partitionBy("cid")
        .parquet(f"{ivf_dir}/vectors")
    )


def ivf_list_stats(spark, ivf_dir: str) -> dict:
    """Per-list health of a persisted IVF index: {"counts": {cid: n},
    "skew": max/mean} — the merge-policy signal (size-tiered analog)."""
    rows = (
        spark.read.parquet(f"{ivf_dir}/vectors")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {int(r["cid"]): int(r["n"]) for r in rows}
    ns = list(counts.values())
    skew = (max(ns) / (sum(ns) / len(ns))) if ns else 0.0
    return {"counts": counts, "skew": skew}


def ivf_compact(
    spark,
    ivf_dir: str,
    skew_bound: float = 4.0,
    n_centroids: int | None = None,
    iters: int = 2,
) -> bool:
    """Re-train/compaction trigger (the vector-index lifecycle's
    ``mergeOneField`` rebuild dispatch): when the largest inverted list
    exceeds skew_bound × the mean list size — appended data has drifted from
    the codebook, so probes over-read — re-train the codebook on the FULL
    stored corpus and rewrite the layout. Returns True iff a rebuild ran.

    The rewrite stages into <ivf_dir>.rebuild then swaps, so a concurrent
    reader never sees a half-written layout (raw values always survive: the
    stored (id, v) rows are themselves the rebuild source — the S7 invariant).
    """
    st = ivf_list_stats(spark, ivf_dir)
    if st["skew"] <= skew_bound or not st["counts"]:
        return False
    from cuvs_lucene_spark.sources import fs as idxfs

    vecs = spark.read.parquet(f"{ivf_dir}/vectors").select("id", "v")
    c = n_centroids or len(st["counts"])
    tmp = f"{ivf_dir.rstrip('/')}.rebuild"
    ivf_build(vecs, tmp, n_centroids=c, iters=iters, id_col="id", vec_col="v")
    # local rename-swap; on object stores route through the catalog committer
    idxfs.delete_dir(f"{ivf_dir}/centroids")
    idxfs.delete_dir(f"{ivf_dir}/vectors")
    idxfs.move(f"{tmp}/centroids", f"{ivf_dir}/centroids")
    idxfs.move(f"{tmp}/vectors", f"{ivf_dir}/vectors")
    idxfs.delete_dir(tmp)
    _CENTROIDS_CACHE.pop(ivf_dir, None)
    _CENTROIDS_CACHE.pop(tmp, None)
    return True


# per-index-dir centroid cache: centroids are immutable once written, tiny
# (C ~ sqrt(N): even 10^9 vectors → ~3·10^4 rows), and probed on EVERY query —
# the IVF analog of Lucene holding the term dictionary open in the reader.
_CENTROIDS_CACHE: dict[str, tuple[np.ndarray, np.ndarray]] = {}


def _load_centroids(spark, ivf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    if ivf_dir not in _CENTROIDS_CACHE:
        rows = spark.read.parquet(f"{ivf_dir}/centroids").collect()
        cids = np.array([int(r["cid"]) for r in rows], dtype=np.int64)
        mat = np.array([r["centroid"] for r in rows], dtype=np.float64)
        _CENTROIDS_CACHE[ivf_dir] = (cids, mat)
    return _CENTROIDS_CACHE[ivf_dir]


def ivf_probe_search(
    spark,
    ivf_dir: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    filter_cond: Column | str | None = None,
    accept: DataFrame | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine over the nprobe nearest inverted lists of a persisted
    IVF index — ONE Spark job: centroid selection is driver-side numpy over
    the cached centroid table, and the cid predicate is a partition filter on
    the hive layout, so only nprobe/C of the stored bytes are read (verify:
    .explain() shows it under PartitionFilters, not PushedFilters).

    Filtered/deletes-aware serving (the reference's primary query surface,
    ``CuVS2510GPUVectorsReader.java:313-335``): `filter_cond` is a predicate
    over the stored (id, v, cid) columns; `accept` is a vector-dim DataFrame
    whose FIRST column lists acceptable ids (semi-join — how a caller filters
    by role/ts attributes kept in a separate dim table); `deletes` ids are
    anti-joined so tombstoned vectors are never returned."""
    cids, mat = _load_centroids(spark, ivf_dir)
    if mat.size and len(query) != mat.shape[1]:
        raise ValueError(
            f"ivf_probe_search: query vector has {len(query)} dims but the "
            f"index was trained with dim={mat.shape[1]}"
        )
    q = np.asarray(query, dtype=np.float64)
    d2 = ((mat - q) ** 2).sum(axis=1)
    order = np.lexsort((cids, d2))[:nprobe]
    probe_ids = [int(c) for c in cids[order]]
    vecs = spark.read.parquet(f"{ivf_dir}/vectors").where(
        F.col("cid").isin(probe_ids)
    )
    if accept is not None:
        acc = accept.select(F.col(accept.columns[0]).cast("long").alias("id"))
        vecs = vecs.join(F.broadcast(acc), "id", "left_semi")
    return cosine_topk(
        vecs, query, k, id_col="id", vec_col="v",
        filter_cond=filter_cond, deletes=deletes,
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (the vector-modality member of the
# dedup family in pipeline/dedup.py; same (id_a < id_b, score) pair shape)
# ---------------------------------------------------------------------------

def rademacher_hyperplanes(bits: int, dim: int) -> np.ndarray:
    """Deterministic ±1 (Rademacher) hyperplanes for sign-random-projection
    LSH, derived from crc32 of (bit, dim) — no RNG state, so the SAME matrix
    is reproducible anywhere (Spark kernel, oracle SQL literals, tests).
    Sign projections with ±1 entries are a valid cosine LSH family (the
    SimHash of Charikar'02, which `dedup.simhash_fingerprints` applies to
    text token sets)."""
    from zlib import crc32

    return np.array(
        [
            [1.0 if crc32(b"rhp:%d:%d" % (b, d)) & 1 else -1.0 for d in range(dim)]
            for b in range(bits)
        ],
        dtype=np.float64,
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_inner_product({a}, {b}) / "
        f"(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))), 6)"
    )


def _pair_cos_udf():
    """Arrow-batched rowwise cosine of two array<double> columns, rounded to
    6 (the oracle's convention) — one einsum per batch, no per-row Python."""

    @F.pandas_udf("double")
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series(np.empty(0, dtype=np.float64))
        A = np.stack(va.to_numpy()).astype(np.float64, copy=False)
        B = np.stack(vb.to_numpy()).astype(np.float64, copy=False)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(np.round(num / den, 6))

    return pair_cos


# per-worker-process cache of the near-dup reference matrix: every task on a
# worker reuses one (ids, normalized-matrix) load instead of re-reading the
# snapshot. One entry — a new snapshot path evicts the old matrix.
_NEARDUP_REF_CACHE: dict = {}


def _load_neardup_ref(path: str):
    hit = _NEARDUP_REF_CACHE.get(path)
    if hit is not None:
        return hit
    import pyarrow.dataset as pads

    from cuvs_lucene_spark.sources import fs as _fs

    f, p = _fs.resolve(path)
    tbl = pads.dataset(p, filesystem=f, format="parquet").to_table()
    ids = tbl["id"].to_numpy().astype(np.int64)
    X = np.stack(tbl["v"].to_pandas().to_numpy()).astype(np.float64, copy=False)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    _NEARDUP_REF_CACHE.clear()
    _NEARDUP_REF_CACHE[path] = (ids, Xn)
    return ids, Xn


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 200_000,
    scratch_dir: str | None = None,
) -> DataFrame:
    """EXACT embedding near-dup: all (id_a < id_b, cos) with round(cos,6) ≥
    threshold — the small-N verification oracle (`embedding_lsh_pairs` is
    the 100 TB path, which examines only hyperplane-bucket candidates).

    Shape: blocked brute force. The corpus is snapshotted to a scratch
    parquet by the EXECUTORS (never routed through the driver), and each
    worker process lazily reads + cosine-normalizes it once, cached for all
    its tasks; ONE narrow scan then gives each partition a (block × N) BLAS
    matmul emitting only above-threshold upper-triangle entries. All-pairs
    compute is inherent to exactness; what max_rows bounds is WORKER memory
    — N·dim float64 per worker (≈0.5 GB at 10^6×64): corpora above it raise
    rather than silently OOMing — switch to embedding_lsh_pairs (the scale
    path) or raise max_rows deliberately.

    scratch_dir must be reachable by every executor (defaults to the Spark
    warehouse dir — on a cluster that is the shared store); the snapshot
    under it is needed as long as the returned DataFrame may recompute, and
    safe to delete afterwards."""
    import uuid as _uuid

    from cuvs_lucene_spark.sources import fs as _fs

    spark = embeddings.sparkSession
    src = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    n_rows = src.count()
    if n_rows > max_rows:
        raise ValueError(
            f"embedding_neardup_pairs is the exact small-N verifier: corpus "
            f"has {n_rows} rows > max_rows={max_rows} (every worker holds "
            f"~{n_rows}·dim·8 bytes). Use embedding_lsh_pairs for large "
            f"corpora, or pass a higher max_rows deliberately."
        )
    scratch = scratch_dir or spark.conf.get(
        "spark.sql.warehouse.dir", "file:/tmp/spark-warehouse"
    )
    ref_dir = _fs.join(scratch, f"neardup-ref-{_uuid.uuid4().hex[:12]}")
    src.write.parquet(ref_dir)

    def kernel(batches):
        ids_r, Xn_r = _load_neardup_ref(ref_dir)
        for b in batches:
            if not len(b):
                continue
            bids = b["id"].to_numpy(dtype=np.int64)
            Bm = np.stack(b["v"].to_numpy()).astype(np.float64, copy=False)
            Bn = Bm / np.linalg.norm(Bm, axis=1, keepdims=True)
            C = np.round(Bn @ Xn_r.T, 6)  # (block, N)
            mask = (C >= threshold) & (bids[:, None] < ids_r[None, :])
            bi, aj = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": bids[bi], "id_b": ids_r[aj], "cos": C[bi, aj]}
            )

    return src.mapInPandas(kernel, "id_a long, id_b long, cos double")


def embedding_neardup_pairs_sql(
    table: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = _cos_sql("a.v", "b.v")
    return f"""
WITH n AS (SELECT {id_col} AS id, cast({vec_col} AS double[]) AS v FROM {table})
SELECT a.id AS id_a, b.id AS id_b, {cos} AS cos
FROM n a JOIN n b ON a.id < b.id
WHERE {cos} >= {threshold}
ORDER BY id_a, id_b
"""


def _band_rows(
    embeddings: DataFrame, H: np.ndarray, bands: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, band, val) rows: val = the big-endian integer of this band's
    sign bits. One Arrow-batched matmul per batch ((batch × dim) @ (dim ×
    bits)); emits bands per vector — a constant ×bands row fanout, shuffled
    only by the candidate join that consumes it."""
    bits = H.shape[0]
    r = bits // bands
    w = (1 << np.arange(r - 1, -1, -1, dtype=np.int64))  # big-endian weights

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            sgn = (x @ H.T) >= 0.0  # (batch, bits) bool
            vals = sgn.reshape(len(ids), bands, r) @ w  # (batch, bands)
            yield pd.DataFrame(
                {
                    "id": np.repeat(ids, bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(ids)),
                    "val": vals.astype(np.int64).ravel(),
                }
            )

    src = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    return src.mapInPandas(kernel, "id long, band int, val long")


def embedding_lsh_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    bits: int = 16,
    bands: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via sign-random-projection LSH, VERIFIED with exact
    cosine — emitted pairs are never false positives; the hyperplane buckets
    only bound which pairs are examined (candidates = pairs agreeing on ≥ 1
    of `bands` bit-bands). Same output schema as embedding_neardup_pairs;
    recall < 1 is possible by design (Charikar bound: P[bit agree] =
    1 − θ/π), so the oracle replays the SAME deterministic hyperplanes.

    Scale shape: signature pass is one narrow scan; the candidate join
    shuffles (band, val)-keyed rows (constant ×bands fanout of N, not N²);
    exact cosine is computed ONLY for candidate pairs (two id-keyed joins) —
    the same verified-candidates discipline as `dedup.minhash_lsh_pairs`.
    """
    assert bits % bands == 0
    if dim is None:
        dim = int(embeddings.select(F.array_size(vec_col)).first()[0])
    H = rademacher_hyperplanes(bits, dim)
    banded = _band_rows(embeddings, H, bands, id_col, vec_col)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "val"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    n = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    pair_cos = _pair_cos_udf()
    return (
        cand.join(n.withColumnRenamed("id", "id_a").withColumnRenamed("v", "va"), "id_a")
        .join(n.withColumnRenamed("id", "id_b").withColumnRenamed("v", "vb"), "id_b")
        .select("id_a", "id_b", pair_cos(F.col("va"), F.col("vb")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_lsh_pairs_sql(
    table: str,
    threshold: float = 0.4,
    bits: int = 16,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of embedding_lsh_pairs: the SAME crc32-derived hyperplanes
    inlined as list literals, band values via 1-indexed bit slices, exact
    cosine on candidates only."""
    assert bits % bands == 0
    r = bits // bands
    H = rademacher_hyperplanes(bits, dim)
    planes = ", ".join(
        "CASE WHEN list_inner_product(v, ["
        + ", ".join(f"{x:.1f}" for x in H[bi])
        + "]) >= 0 THEN 1 ELSE 0 END"
        for bi in range(bits)
    )
    band_legs = "\nUNION ALL\n".join(
        f"SELECT id, {bi} AS band, "
        + " + ".join(
            f"bit[{bi * r + j + 1}] * {1 << (r - 1 - j)}" for j in range(r)
        )
        + " AS val FROM sig"
        for bi in range(bands)
    )
    cos = _cos_sql("na.v", "nb.v")
    return f"""
WITH n AS (SELECT {id_col} AS id, cast({vec_col} AS double[]) AS v FROM {table}),
sig AS (SELECT id, [{planes}] AS bit FROM n),
bands AS ({band_legs}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val AND a.id < b.id
)
SELECT c.id_a, c.id_b, {cos} AS cos
FROM cand c JOIN n na ON na.id = c.id_a JOIN n nb ON nb.id = c.id_b
WHERE {cos} >= {threshold}
ORDER BY id_a, id_b
"""




# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized codes inside the IVF layout (ADC scoring)
# ---------------------------------------------------------------------------
# Product quantization per Jégou, Douze & Schmid, "Product Quantization for
# Nearest Neighbor Search" (TPAMI 2011, public literature), the same index
# family cuVS itself ships as IVF-PQ beside IVF-Flat. Raw-vector variant
# (codes quantize the vector, not the coarse residual — faiss's
# by_residual=false mode): simpler, deterministic, and the rerank step reads
# the stored raw vectors anyway.
#
# Why this is THE 100 TB path: the stored rows keep (id, v, codes) but ADC
# scans project ONLY the codes column (parquet columnar pruning) — m bytes
# per vector instead of 8·dim. At dim=64, m=8 that is a 64× scan-byte
# reduction on top of the nprobe/C partition pruning; the raw `v` column is
# touched only for the k·refine candidate rows of the rerank join.

_PQ_BOOKS_CACHE: dict[str, np.ndarray] = {}


def _pq_assign(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """codes[i, m] = argmin_k |x_i[sub_m] - books[m, k]|  (first-min ties)."""
    n_sub, ks, dsub = books.shape
    codes = np.empty((len(x), n_sub), dtype=np.uint8)
    for m in range(n_sub):
        sub = x[:, m * dsub:(m + 1) * dsub]
        d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = np.argmin(d2, axis=1)
    return codes


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train per-subspace codebooks; returns (m, ks', dsub) float64 with
    ks' = min(ks, N). Same deterministic-Lloyd shape as ivf_train (init =
    lowest-id vectors, no RNG), but ALL m subspaces train in ONE kernel per
    round — one corpus scan regardless of m, partials merged driver-side
    (m·ks tiny rows per partition). Empty codes keep their previous centroid
    (deterministic; Lloyd's natural behavior under a fixed init).
    """
    if ks > 256:
        raise ValueError("ks must fit a uint8 code (<= 256)")
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    init = emb.orderBy("id").limit(ks).collect()
    x0 = np.array([r["v"] for r in init], dtype=np.float64)
    dim = x0.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ks_eff = len(x0)
    books = np.stack(
        [x0[:, j * dsub:(j + 1) * dsub].copy() for j in range(m)]
    )  # (m, ks_eff, dsub)

    for _ in range(iters):
        b = books.copy()

        def partials(batches):
            sums = np.zeros_like(b)
            counts = np.zeros((m, ks_eff), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
                for j in range(m):
                    sub = x[:, j * dsub:(j + 1) * dsub]
                    d2 = ((sub[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
                    a = np.argmin(d2, axis=1)
                    np.add.at(sums[j], a, sub)
                    counts[j] += np.bincount(a, minlength=ks_eff)
            nz = np.argwhere(counts > 0)
            if len(nz):
                yield pd.DataFrame(
                    {
                        "m": nz[:, 0],
                        "code": nz[:, 1],
                        "s": [sums[j, c].tolist() for j, c in nz],
                        "n": [int(counts[j, c]) for j, c in nz],
                    }
                )

        acc_s = np.zeros_like(books)
        acc_n = np.zeros((m, ks_eff), dtype=np.int64)
        for r in emb.mapInPandas(
            partials, "m int, code int, s array<double>, n long"
        ).collect():
            acc_s[r["m"], r["code"]] += np.asarray(r["s"], dtype=np.float64)
            acc_n[r["m"], r["code"]] += int(r["n"])
        upd = acc_n > 0
        books[upd] = acc_s[upd] / acc_n[upd][:, None]
    return books


def pq_encode_col(books: np.ndarray, vec_col: str) -> Column:
    """BinaryType column of per-row PQ codes (m bytes each)."""
    b = books

    @F.pandas_udf("binary")
    def enc(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series(np.empty(0, dtype=object))
        x = np.stack(col.to_numpy()).astype(np.float64, copy=False)
        codes = _pq_assign(x, b)
        return pd.Series([c.tobytes() for c in codes])

    return enc(F.col(vec_col))


def ivfpq_build(
    embeddings: DataFrame,
    ivfpq_dir: str,
    n_centroids: int = 8,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train coarse (IVF) + fine (PQ) quantizers and materialize:

        <dir>/centroids/              (cid, centroid)           — tiny
        <dir>/pq_codebooks/           (m, code, centroid)       — tiny
        <dir>/vectors/cid=<c>/        (id, v, codes binary)     — corpus

    One assignment scan writes both the coarse partition key and the fine
    codes; every later ADC probe reads only `codes` of nprobe/C partitions.
    """
    spark = embeddings.sparkSession
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cents = ivf_train(embeddings, n_centroids, iters, id_col, vec_col)
    books = pq_train(embeddings, m, ks, iters, id_col, vec_col)
    cents.coalesce(1).write.mode("overwrite").parquet(f"{ivfpq_dir}/centroids")
    n_sub, ks_eff, _ = books.shape
    spark.createDataFrame(
        [
            (j, c, books[j, c].tolist())
            for j in range(n_sub)
            for c in range(ks_eff)
        ],
        "m int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{ivfpq_dir}/pq_codebooks")
    (
        emb.withColumn("cid", _nearest_cid_expr(_collect_centroids(cents), "v"))
        .withColumn("codes", pq_encode_col(books, "v"))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{ivfpq_dir}/vectors")
    )
    _CENTROIDS_CACHE.pop(ivfpq_dir, None)
    _PQ_BOOKS_CACHE.pop(ivfpq_dir, None)


def ivfpq_append(
    spark,
    embeddings: DataFrame,
    ivfpq_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF-PQ append (lifecycle parity with ivf_append and
    knn_graph_append — the vector analog of mergeOneField's fast path):
    assign + PQ-encode the NEW vectors with the PERSISTED coarse centroids
    and codebooks, append into the cid layout. Existing lists are never
    read or rewritten; cost is one scan of the appended batch. Codebook
    drift under a shifting data distribution shows up as list skew
    (ivf_list_stats over this dir works unchanged) — retrain via
    ivfpq_build when it grows.

    Raises on a dim mismatch with the trained codebooks (the reader-side
    guard's write-side twin)."""
    cids, mat = _load_centroids(spark, ivfpq_dir)
    books = _load_pq_books(spark, ivfpq_dir)
    dim = int(mat.shape[1]) if mat.size else 0
    # NULL/empty vectors are tolerated gaps (same contract as the graph
    # path's _nodes projection); every PRESENT vector must match the
    # trained dim — checked across the WHOLE batch in one agg, not just
    # the first row — and appended ids must not collide with stored ones
    # (a silent duplicate would corrupt the degenerate-exact contract).
    # id stays UNcast — ivfpq_build writes the caller's id type verbatim,
    # and appending a different type would produce mixed-schema parquet
    # (same contract as the sibling ivf_append)
    emb = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull() & (F.size("v") > 0))
    stats = emb.agg(
        F.min(F.size("v")).alias("dmin"),
        F.max(F.size("v")).alias("dmax"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("id").alias("n_ids"),
    ).collect()[0]
    if stats["dmin"] is None:
        return  # nothing to append (all rows NULL/empty)
    if dim and (int(stats["dmin"]) != dim or int(stats["dmax"]) != dim):
        raise ValueError(
            f"ivfpq_append: appended vectors have dims in "
            f"[{int(stats['dmin'])}, {int(stats['dmax'])}] but the index "
            f"was trained with dim={dim}"
        )
    if int(stats["n_ids"]) != int(stats["n"]):
        raise ValueError(
            "ivfpq_append: appended batch contains duplicate ids"
        )
    existing = spark.read.parquet(f"{ivfpq_dir}/vectors").select("id")
    if emb.join(existing, "id", "left_semi").limit(1).count():
        raise ValueError(
            "ivfpq_append: appended ids collide with stored vector ids"
        )
    cents = {int(c): mat[i].tolist() for i, c in enumerate(cids)}
    (
        emb.withColumn("cid", _nearest_cid_expr(cents, "v"))
        .withColumn("codes", pq_encode_col(books, "v"))
        .write.mode("append")
        .partitionBy("cid")
        .parquet(f"{ivfpq_dir}/vectors")
    )


def _load_pq_books(spark, ivfpq_dir: str) -> np.ndarray:
    if ivfpq_dir not in _PQ_BOOKS_CACHE:
        rows = spark.read.parquet(f"{ivfpq_dir}/pq_codebooks").collect()
        n_sub = 1 + max(int(r["m"]) for r in rows)
        ks = 1 + max(int(r["code"]) for r in rows)
        dsub = len(rows[0]["centroid"])
        books = np.zeros((n_sub, ks, dsub), dtype=np.float64)
        for r in rows:
            books[int(r["m"]), int(r["code"])] = r["centroid"]
        _PQ_BOOKS_CACHE[ivfpq_dir] = books
    return _PQ_BOOKS_CACHE[ivfpq_dir]


def ivfpq_search(
    spark,
    ivfpq_dir: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    refine: int | None = 4,
    filter_cond: Column | str | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k over the nprobe nearest inverted lists, optionally reranked
    exactly. Returns (rank, id, score) like cosine_topk.

    Driver computes the query's (m × ks) lookup tables once — dot(q_m, c) and
    |c|² per sub-centroid — so executor work per vector is m byte-gathers +
    a sum: cos_ADC(q, x) = Σ_m LUTdot[m, codes_m] / (|q|·√Σ_m LUTn2[m, codes_m])
    (exactly cos(q, x̂) for the reconstruction x̂ — pinned by pytest).
    refine=r: the k·r best ADC candidates are joined back to the raw `v`
    column (broadcast of k·r ids into the same partition-pruned scan) and
    reranked with exact cosine; refine=None returns raw ADC scores.
    nprobe ≥ C with refine covering the corpus degrades to EXACT search —
    the hash-match gate config. filter_cond/deletes: the usual acceptDocs
    surface, applied before ranking."""
    cids, mat = _load_centroids(spark, ivfpq_dir)
    if mat.size and len(query) != mat.shape[1]:
        raise ValueError(
            f"ivfpq_search: query vector has {len(query)} dims but the "
            f"index was trained with dim={mat.shape[1]}"
        )
    q = np.asarray(query, dtype=np.float64)
    d2 = ((mat - q) ** 2).sum(axis=1)
    probe_ids = [int(c) for c in cids[np.lexsort((cids, d2))[:nprobe]]]
    books = _load_pq_books(spark, ivfpq_dir)
    n_sub, ks, dsub = books.shape
    lut_dot = np.einsum("mkd,md->mk", books, q.reshape(n_sub, dsub))
    lut_n2 = (books ** 2).sum(axis=2)
    qn = float(np.sqrt((q ** 2).sum()))

    vecs = spark.read.parquet(f"{ivfpq_dir}/vectors").where(
        F.col("cid").isin(probe_ids)
    )
    vecs = _apply_vector_mask(vecs, "id", filter_cond, deletes)

    @F.pandas_udf("double")
    def adc(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series(np.empty(0, dtype=np.float64))
        codes = np.frombuffer(b"".join(col.to_numpy()), dtype=np.uint8).reshape(
            len(col), n_sub
        ).astype(np.int64)
        mi = np.arange(n_sub)[None, :]
        dots = lut_dot[mi, codes].sum(axis=1)
        n2 = lut_n2[mi, codes].sum(axis=1)
        denom = qn * np.sqrt(n2)
        out = np.zeros(len(col), dtype=np.float64)
        ok = denom > 0
        out[ok] = dots[ok] / denom[ok]
        return pd.Series(out)

    ranked = (
        vecs.select("id", adc(F.col("codes")).alias("adc"))
        .orderBy(F.desc("adc"), F.asc("id"))
    )
    if refine is None:
        topk = ranked.limit(k).withColumn("score", F.round("adc", 6))
        w = Window.orderBy(F.desc("score"), F.asc("id"))
        return topk.withColumn("rank", F.row_number().over(w)).select(
            F.col("rank").cast("long"), F.col("id").cast("long"), "score"
        )
    cand = ranked.limit(int(k) * int(refine)).select("id")
    return cosine_topk(
        vecs.join(F.broadcast(cand), "id", "left_semi"),
        query, k, id_col="id", vec_col="v",
    )
