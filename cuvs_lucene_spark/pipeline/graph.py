"""Graph-based ANN — the reference's namesake capability, Spark-first.

The reference's headline vector path builds a CAGRA nearest-neighbor GRAPH on
GPU and serializes it into Lucene's HNSW format for CPU serving
(``CagraToHnswConversion``, ``TestCagraToHnswSerializationAndSearch.java``;
CAGRA itself descends from NN-Descent, Ono & Matsui 2023 / Dong et al. WWW'11).
This module re-expresses that lifecycle as Spark jobs with no GPU and no
driver-resident corpus:

  build   knn_graph_build — distributed NN-Descent: LSH-seeded candidate
          pairs, vectorized exact scoring, neighbor-of-neighbor expansion as
          self-joins, per-node top-degree truncation; every step a DataFrame
          op, so the graph build shuffles O(N·degree) edge rows instead of
          materializing O(N²) distances.
  convert graph_to_hnsw — packs the flat edge table into per-node adjacency
          rows ordered by score (the analog of writing Lucene's HNSW
          neighbor arrays), entry point = medoid, single-layer exactly like
          the reference's CAGRA->HNSW conversion (cuVS converts to a
          single-level HNSW; upper levels are not synthesized).
  search  graph_search — batched best-first beam search: the DRIVER holds
          only the beam (<= ef ids + scores per query, the same economics as
          the FTS driver holding <= k×partitions rows); every hop is one
          src-pruned scan of the adjacency table plus one id-pruned scan of
          the node table, both pushed-down IN-filters over sorted parquet,
          so a hop reads O(frontier·degree) rows no matter how large the
          corpus is. Filtering follows Lucene's filtered-HNSW semantics:
          the traversal walks ALL nodes, the acceptance mask applies only to
          result collection (``CuVS2510GPUVectorsReader.java:313-335``'s
          acceptDocs, without the k×10 over-sampling).

Scale notes (10^9+ vectors): NN-Descent rounds shuffle O(N·degree·cand_cap)
candidate rows — bounded, tunable, and embarrassingly key-partitioned; no
step collects the corpus. Search hops are pruned scans; batching Q queries
amortizes each hop's scan across the whole batch. Determinism: seeded
hyperplanes, (score desc, id asc) tie-breaks everywhere — two builds of the
same input are byte-identical, which is what lets pytest pin search results
exactly (the analog of the reference's frozen expected doc ids,
``TestCagraToHnswSerializationAndSearch.java:133-151``).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from cuvs_lucene_spark.pipeline.similarity import (
    _dot,
    _norm,
    _pair_cos_udf,
    _qlit,
    rademacher_hyperplanes,
)
from cuvs_lucene_spark.sources import fs as idxfs

# complete-graph mode is a verifier (provably-exact search on a capped
# subset); the ceiling is ENFORCED so nobody can accidentally build an O(N²)
# edge set on a real corpus (same contract as similarity.embedding_neardup's
# max_rows guard).
COMPLETE_GRAPH_CAP = 4096


def _nodes(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Project to (id, v), dropping rows with NULL/empty vectors — the
    reference's sparse-field handling (``TestCuVSGaps.java``: documents
    without a vector simply have no graph ordinal; ord->doc mapping keeps
    ids global). Our ids are the caller's ids, so the mapping is identity
    and a gap row is just absent from nodes/."""
    return embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull() & (F.size("v") > 0))


def _score_pairs(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact cosine for candidate (src, dst) pairs: two id-keyed joins to
    fetch vectors, then the Arrow-batched pair kernel (no per-row Python).
    Shuffle volume is O(|pairs|) rows — the whole point of NN-Descent is
    that |pairs| stays O(N·degree·cap), never O(N²)."""
    cos = _pair_cos_udf()
    a = nodes.select(F.col("id").alias("src"), F.col("v").alias("va"))
    b = nodes.select(F.col("id").alias("dst"), F.col("v").alias("vb"))
    return (
        pairs.join(a, "src")
        .join(b, "dst")
        .select("src", "dst", cos("va", "vb").alias("score"))
    )


def _top_degree(edges: DataFrame, degree: int) -> DataFrame:
    """Per-src top-degree truncation, deterministic tie-break
    (score desc, dst asc) — CAGRA's fixed out-degree invariant."""
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        edges.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= degree)
        .drop("_r")
    )


def _lsh_seed_pairs(
    nodes: DataFrame,
    bits: int,
    bands: int,
    bucket_cap: int,
    seed: int,
    left_ids: DataFrame | None = None,
) -> DataFrame:
    """Seed candidates: sign-projection LSH buckets (bands × bits seeded
    hyperplanes); nodes sharing a band signature become candidate pairs.
    Buckets are capped (hash-ranked row_number <= bucket_cap) so a dense
    cluster cannot blow the band self-join up quadratically — the capped
    tail is exactly what later NN-Descent rounds recover via
    neighbor-of-neighbor expansion.

    left_ids (append path): restrict the LEFT side of the bucket join to
    these ids — pair generation then costs O(|left|·bucket_cap·bands)
    instead of re-joining every existing bucket against itself, which is
    what lets knn_graph_append avoid the full build's candidate sweep."""
    dim_row = nodes.select(F.size("v").alias("d")).limit(1).collect()
    dim = int(dim_row[0]["d"]) if dim_row else 0
    if dim == 0:
        return nodes.sparkSession.createDataFrame(
            [], "src long, dst long"
        )
    out = []
    for band in range(bands):
        hp = rademacher_hyperplanes(bits, dim)  # deterministic
        # per-band decorrelation: roll the plane matrix by the band index
        hp = np.roll(hp, band * 7 + seed, axis=1)
        planes = [list(map(float, row)) for row in hp]
        sig = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            sig = sig + F.when(_dot(F.col("v"), _qlit(p)) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
        out.append(
            nodes.select(
                "id", F.lit(band).alias("band"), sig.alias("sig")
            )
        )
    tagged = out[0]
    for o in out[1:]:
        tagged = tagged.unionByName(o)
    w = Window.partitionBy("band", "sig").orderBy(F.xxhash64("id", F.lit(seed)))
    capped = (
        tagged.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= bucket_cap)
        .drop("_r")
    )
    if left_ids is not None:
        # append path: the LEFT (new-node) side comes from the UNCAPPED
        # bucket membership — the cap ranks old and new members together,
        # so a new node hashed below the cap in a dense existing bucket
        # would otherwise get zero LSH seed candidates and be wired only by
        # its anchor edges. New nodes always pair with up to bucket_cap
        # bucket-mates; only the RIGHT side is capped.
        l = tagged.select("band", "sig", F.col("id").alias("src")).join(
            F.broadcast(left_ids.select(F.col("id").alias("src"))),
            "src",
            "left_semi",
        )
    else:
        l = capped.select("band", "sig", F.col("id").alias("src"))
    r = capped.select("band", "sig", F.col("id").alias("dst"))
    return (
        l.join(r, ["band", "sig"])
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def _anchor_pairs(
    nodes: DataFrame,
    n_anchors: int,
    per_node: int,
    seed: int,
    members: DataFrame | None = None,
) -> DataFrame:
    """Diversity seed: every node is paired with `per_node` hash-chosen
    members of a small global anchor set. NN-Descent needs a few RANDOM
    long-range edges to escape the locality of the LSH buckets (Dong et
    al.'s random init); anchors give that without assuming contiguous ids —
    one tiny collect (the anchor ids), then a hash-join-free literal map.

    members (append path): pair only THESE ids with the anchors (anchors
    still drawn from the full node set), so appended nodes get their
    long-range edges without touching every existing node."""
    anchors = [
        int(r["id"])
        for r in nodes.select("id")
        .orderBy(F.xxhash64("id", F.lit(seed ^ 0xA17C)))
        .limit(n_anchors)
        .collect()
    ]
    if not anchors:
        return nodes.sparkSession.createDataFrame([], "src long, dst long")
    arr = F.array(*[F.lit(a) for a in anchors])
    per_node = min(per_node, len(anchors))
    picks = F.transform(
        F.sequence(F.lit(0), F.lit(per_node - 1)),
        lambda j: F.element_at(
            arr,
            (
                F.pmod(F.xxhash64(F.col("src"), j, F.lit(seed)), F.lit(len(anchors)))
                + 1
            ).cast("int"),
        ),
    )
    base = members if members is not None else nodes
    return (
        base.select(F.col("id").alias("src"))
        .select("src", F.explode(picks).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def knn_graph_build(
    embeddings: DataFrame,
    graph_dir: str,
    degree: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 6,
    bands: int = 4,
    bucket_cap: int = 128,
    cand_cap: int = 256,
    n_anchors: int = 64,
    anchors_per_node: int = 8,
    seed: int = 42,
    complete: bool = False,
) -> dict:
    """Build + persist the k-NN graph (CAGRA-build analog).

    Layout (all parquet, range-sorted for pushed-down IN pruning):
        <graph_dir>/nodes/   (id, v)           sorted by id
        <graph_dir>/edges/   (src, dst, score) sorted by src
        <graph_dir>/meta.json {format, n, dim, degree, entry, conv, ...}

    ``complete=True`` builds the FULL pairwise graph — provably-exact search
    substrate for the correctness gate — and is hard-capped at
    COMPLETE_GRAPH_CAP nodes (raises, never OOMs).

    Returns the meta dict (including per-round convergence counts: how many
    edges each NN-Descent round replaced — the build's lineage signal).
    """
    spark = embeddings.sparkSession
    # one driver action for input count, valid-node count, and dim (the
    # former three separate jobs folded into a single scan)
    valid = F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    stats = embeddings.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(valid.cast("long")).alias("n"),
        F.min(F.when(valid, F.size(vec_col))).alias("dmin"),
        F.max(F.when(valid, F.size(vec_col))).alias("dmax"),
    ).collect()[0]
    n_input, n = int(stats["n_input"]), int(stats["n"] or 0)
    nodes = _nodes(embeddings, id_col, vec_col)
    if n == 0:
        raise ValueError("knn_graph_build: empty input (or all vectors NULL)")
    if int(stats["dmin"]) != int(stats["dmax"]):
        raise ValueError(
            f"knn_graph_build: mixed vector dims in input "
            f"[{int(stats['dmin'])}, {int(stats['dmax'])}]"
        )
    dim = int(stats["dmax"])
    degree = min(degree, max(1, n - 1))

    if complete:
        if n > COMPLETE_GRAPH_CAP:
            raise ValueError(
                f"complete=True is the exactness verifier and is capped at "
                f"{COMPLETE_GRAPH_CAP} nodes (got {n}); build the NN-Descent "
                f"graph for real corpora"
            )
        ids = nodes.select(F.col("id").alias("src"))
        pairs = ids.crossJoin(nodes.select(F.col("id").alias("dst"))).where(
            F.col("src") != F.col("dst")
        )
        edges = _score_pairs(pairs, nodes)
        degree = n - 1
        conv = []
    else:
        seedp = _lsh_seed_pairs(nodes, bits, bands, bucket_cap, seed).unionByName(
            _anchor_pairs(nodes, n_anchors, anchors_per_node, seed)
        ).distinct()
        edges = _top_degree(_score_pairs(seedp, nodes), degree).persist()
        edges.count()  # materialize round 0
        conv = []
        for it in range(iters):
            und = edges.select("src", "dst").unionByName(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            a = und.alias("a")
            b = und.alias("b")
            two_hop = (
                a.join(b, F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
                .where(F.col("src") != F.col("dst"))
                .distinct()
            )
            fresh = two_hop.join(
                edges.select("src", "dst"), ["src", "dst"], "left_anti"
            )
            wc = Window.partitionBy("src").orderBy(
                F.xxhash64("dst", F.lit(seed + it))
            )
            fresh = (
                fresh.withColumn("_r", F.row_number().over(wc))
                .where(F.col("_r") <= cand_cap)
                .drop("_r")
            )
            scored = _score_pairs(fresh, nodes)
            new_edges = _top_degree(
                edges.unionByName(scored), degree
            ).localCheckpoint(eager=True)
            replaced = new_edges.join(
                edges.select("src", "dst"), ["src", "dst"], "left_anti"
            ).count()
            conv.append(int(replaced))
            edges.unpersist()
            edges = new_edges
            if replaced == 0:
                break

    n_parts = max(1, min(32, n // 4096 + 1))
    (
        nodes.repartitionByRange(n_parts, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .parquet(f"{graph_dir}/nodes")
    )
    (
        edges.repartitionByRange(n_parts, "src")
        .sortWithinPartitions("src", "dst")
        .write.mode("overwrite")
        .parquet(f"{graph_dir}/edges")
    )

    entry = _medoid(nodes)
    meta = {
        "format": "knn-graph-v1",
        "n": int(n),
        # node count at the last FULL NN-Descent build — knn_graph_append
        # grows n but not n_base; their gap drives knn_graph_compact
        "n_base": int(n),
        "dim": dim,
        "degree": int(degree),
        "entry": int(entry),
        "iters": len(conv),
        "conv": conv,
        "complete": bool(complete),
        "seed": seed,
        # gap accounting (TestCuVSGaps analog): rows whose vector column was
        # NULL/empty hold no graph node; ids stay global so no ord remap.
        "n_gaps": int(n_input - n),
    }
    idxfs.write_bytes_atomic(
        f"{graph_dir}/meta.json", json.dumps(meta, indent=1).encode()
    )
    _GRAPH_META_CACHE.pop(graph_dir, None)
    _GRAPH_ARRAYS_CACHE.pop(graph_dir, None)
    return meta


def _swap_dir(graph_dir: str, name: str, staged: str) -> None:
    """Replace <graph_dir>/<name> with `staged` via two renames; tolerates a
    missing live dir (recovery after a crash between the renames of an
    earlier swap) and never deletes the .old backup while it is the only
    copy."""
    live = f"{graph_dir}/{name}"
    trash = f"{graph_dir.rstrip('/')}.{name}.old"
    if idxfs.exists(live):
        idxfs.delete_dir(trash)
        idxfs.move(live, trash)
    idxfs.move(staged, live)
    idxfs.delete_dir(trash)


def knn_graph_append(
    new_embeddings: DataFrame,
    graph_dir: str,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 6,
    bands: int = 4,
    bucket_cap: int = 128,
    cand_cap: int = 256,
    n_anchors: int = 64,
    anchors_per_node: int = 8,
    seed: int = 42,
) -> dict:
    """Incremental node insertion + bounded merge — the graph-index analog
    of the reference's native index merge (new vectors slotted into the
    existing structure instead of a full rebuild,
    ``CuVS2510GPUVectorsWriter.java:372-409,491-519``) and of the FTS path's
    mergeOneField fast path.

    Shape, per append of n_new nodes into an N-node graph:
      1. candidate edges for the NEW nodes only: LSH bucket join with the
         left side restricted to new ids (O(n_new·bands·bucket_cap) pairs —
         existing buckets are never self-joined again) + anchor pairs for
         the new nodes (anchors drawn from the full set, so appended nodes
         get long-range edges into the old graph);
      2. symmetrize and merge: candidates in BOTH directions union the old
         edge table, one per-src top-degree truncation — old nodes adopt a
         new neighbor only when it beats their current worst edge;
      3. `iters` bounded NN-Descent refinement rounds over TOUCHED
         neighborhoods only (new ids + every src whose adjacency gained a
         new node): two-hop expansion restricted to touched srcs, so the
         refinement costs O(|touched|·degree·cand_cap), not O(N·...);
      4. stage the merged edge table into <graph_dir>.append, append the
         new node rows, swap edges via two renames (old -> .edges.old,
         staged -> edges), then write meta.json LAST (atomic temp+rename,
         `commit` counter bumped). The meta commit is the visibility
         point; the edge swap's unreadable window is two renames, not a
         full recursive delete. A crash between the node write and the
         meta commit leaves extra node rows that traversal never reaches
         (no edges point at them) — recovery is
         knn_graph_compact(force=True), which rebuilds from the stored
         node table (the S7 raw-values invariant).

    The entry point (medoid) is recomputed over the full node set — one
    narrow O(N) pass — so append converges to the same serving entry a full
    rebuild would pick. Returns the new meta (with per-round `conv_append`
    replacement counts — the append's lineage signal). Complete-mode graphs
    are exactness verifiers and refuse append (rebuild them instead).
    Re-run graph_to_hnsw afterwards to refresh a packed serving copy.
    """
    meta = dict(_load_meta(graph_dir))
    if meta.get("complete"):
        raise ValueError(
            "knn_graph_append: complete-mode graphs are exactness verifiers; "
            "rebuild with knn_graph_build(complete=True) instead"
        )
    spark = new_embeddings.sparkSession
    degree = int(meta["degree"])
    old_nodes = spark.read.parquet(f"{graph_dir}/nodes")
    new_nodes = _nodes(new_embeddings, id_col, vec_col)
    valid_new = F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    stats = new_embeddings.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(valid_new.cast("long")).alias("n"),
        F.min(F.when(valid_new, F.size(vec_col))).alias("dmin"),
        F.max(F.when(valid_new, F.size(vec_col))).alias("dmax"),
        # the ids as _nodes stores them: 5.2 and 5.7 collide once cast
        F.count_distinct(
            F.when(valid_new, F.col(id_col).cast("long"))
        ).alias("n_ids"),
    ).collect()[0]
    n_new = int(stats["n"] or 0)
    if n_new == 0:
        return meta  # nothing to insert (all rows NULL/empty) — no-op
    if int(stats["dmin"]) != int(meta["dim"]) or int(stats["dmax"]) != int(
        meta["dim"]
    ):
        raise ValueError(
            f"knn_graph_append: appended vectors have dims in "
            f"[{int(stats['dmin'])}, {int(stats['dmax'])}] but the graph "
            f"was built with dim={meta['dim']}"
        )
    if int(stats["n_ids"]) != n_new:
        raise ValueError(
            "knn_graph_append: appended batch contains duplicate ids"
        )
    if (
        new_nodes.join(old_nodes.select("id"), "id", "left_semi")
        .limit(1)
        .count()
    ):
        raise ValueError(
            "knn_graph_append: appended ids collide with existing node ids "
            "(if a previous append crashed after its node write, run "
            "knn_graph_compact(spark, graph_dir, force=True) to rebuild a "
            "consistent graph from the stored node table first)"
        )

    new_ids = new_nodes.select("id")
    all_nodes = old_nodes.select("id", "v").unionByName(new_nodes)
    seedp = _lsh_seed_pairs(
        all_nodes, bits, bands, bucket_cap, seed, left_ids=new_ids
    ).unionByName(
        _anchor_pairs(
            all_nodes, n_anchors, anchors_per_node, seed, members=new_nodes
        )
    )
    # symmetrize BEFORE scoring so old->new candidates ride the same kernel
    cand = (
        seedp.unionByName(
            seedp.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    old_edges = spark.read.parquet(f"{graph_dir}/edges")
    scored = _score_pairs(cand, all_nodes)
    edges = _top_degree(
        old_edges.unionByName(scored), degree
    ).localCheckpoint(eager=True)

    # touched neighborhoods: new ids + every src that adopted a new neighbor
    touched = (
        new_ids.unionByName(
            edges.join(
                F.broadcast(new_ids.withColumnRenamed("id", "dst")),
                "dst",
                "left_semi",
            ).select(F.col("src").alias("id"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    conv_append: list[int] = []
    for it in range(iters):
        und = edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        a = und.join(
            F.broadcast(touched.withColumnRenamed("id", "src")),
            "src",
            "left_semi",
        ).alias("a")
        b = und.alias("b")
        two_hop = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        fresh = two_hop.join(
            edges.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        wc = Window.partitionBy("src").orderBy(
            F.xxhash64("dst", F.lit(seed + 1000 + it))
        )
        fresh = (
            fresh.withColumn("_r", F.row_number().over(wc))
            .where(F.col("_r") <= cand_cap)
            .drop("_r")
        )
        new_edges = _top_degree(
            edges.unionByName(_score_pairs(fresh, all_nodes)), degree
        ).localCheckpoint(eager=True)
        replaced = new_edges.join(
            edges.select("src", "dst"), ["src", "dst"], "left_anti"
        ).count()
        conv_append.append(int(replaced))
        edges = new_edges
        if replaced == 0:
            break

    n_total = int(meta["n"]) + n_new
    n_parts = max(1, min(32, n_total // 4096 + 1))
    tmp = f"{graph_dir.rstrip('/')}.append"
    (
        edges.repartitionByRange(n_parts, "src")
        .sortWithinPartitions("src", "dst")
        .write.mode("overwrite")
        .parquet(f"{tmp}/edges")
    )
    (
        new_nodes.repartitionByRange(
            max(1, min(8, n_new // 4096 + 1)), "id"
        )
        .sortWithinPartitions("id")
        .write.mode("append")
        .parquet(f"{graph_dir}/nodes")
    )
    entry = _medoid(spark.read.parquet(f"{graph_dir}/nodes"))
    # two renames instead of delete-then-move: the window with no edges/
    # dir shrinks from "delete every data file" to one rename, and a crash
    # between them leaves the old edges recoverable under .edges.old
    _swap_dir(graph_dir, "edges", f"{tmp}/edges")
    idxfs.delete_dir(tmp)

    meta["n"] = n_total
    meta["entry"] = int(entry)
    meta["conv_append"] = list(meta.get("conv_append", [])) + conv_append
    meta["n_appends"] = int(meta.get("n_appends", 0)) + 1
    meta["commit"] = int(meta.get("commit", 0)) + 1
    meta["n_gaps"] = int(meta.get("n_gaps", 0)) + int(stats["n_input"]) - n_new
    idxfs.write_bytes_atomic(
        f"{graph_dir}/meta.json", json.dumps(meta, indent=1).encode()
    )
    _GRAPH_META_CACHE.pop(graph_dir, None)
    _GRAPH_ARRAYS_CACHE.pop(graph_dir, None)
    return meta


def knn_graph_stats(spark, graph_dir: str) -> dict:
    """Graph-health signal — the merge-policy input (ivf_list_stats twin):
    out-degree distribution (a node starved below the target degree after
    appends is under-wired), append lineage, and the appended fraction since
    the last FULL build (NN-Descent quality was proven for the base build;
    bounded append refinement dilutes it as the appended share grows)."""
    meta = _load_meta(graph_dir)
    rows = (
        spark.read.parquet(f"{graph_dir}/edges")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(
            F.count(F.lit(1)).alias("n_srcs"),
            F.min("deg").alias("min_deg"),
            F.avg("deg").alias("avg_deg"),
            F.max("deg").alias("max_deg"),
        )
        .collect()[0]
    )
    n = int(meta["n"])
    n_base = int(meta.get("n_base", n))
    return {
        "n": n,
        "degree_target": int(meta["degree"]),
        "n_srcs": int(rows["n_srcs"]),
        "min_deg": int(rows["min_deg"]),
        "avg_deg": float(rows["avg_deg"]),
        "max_deg": int(rows["max_deg"]),
        "n_appends": int(meta.get("n_appends", 0)),
        "conv_append": list(meta.get("conv_append", [])),
        "appended_frac": (n - n_base) / n if n else 0.0,
    }


def knn_graph_compact(
    spark,
    graph_dir: str,
    appended_frac_bound: float = 0.5,
    force: bool = False,
    **build_kwargs,
) -> bool:
    """Rebuild trigger (the graph's ivf_compact / mergeOneField-rebuild
    analog): when appended nodes exceed ``appended_frac_bound`` of the
    graph — i.e. most of the structure was wired by bounded append
    refinement rather than full NN-Descent — rebuild from the stored node
    table. Returns True iff a rebuild ran.

    The stored (id, v) rows are themselves the rebuild source (the S7
    raw-values invariant); the rebuild stages into <graph_dir>.rebuild and
    swaps nodes/ then edges/ via guarded two-rename swaps with the meta
    commit last — each swap's unreadable window is two renames, a crash
    leaves the old table under .<name>.old plus the full staging dir, and
    a missing live dir (crashed earlier swap) is tolerated, which makes
    this the recovery path for a crashed append (see knn_graph_append).
    The node swap also re-compacts the per-append node files back into one
    globally range-sorted layout. degree/iters default to the current
    meta's values; override via kwargs.
    """
    meta = _load_meta(graph_dir)
    n = int(meta["n"])
    frac = (n - int(meta.get("n_base", n))) / n if n else 0.0
    if frac <= appended_frac_bound and not force:
        return False
    nodes = spark.read.parquet(f"{graph_dir}/nodes")
    kw = dict(
        degree=int(meta["degree"]),
        iters=max(int(meta.get("iters", 3)), 1),
        seed=int(meta.get("seed", 42)),
    )
    kw.update(build_kwargs)
    tmp = f"{graph_dir.rstrip('/')}.rebuild"
    knn_graph_build(nodes, tmp, id_col="id", vec_col="v", **kw)
    # swap BOTH tables: the node SET is unchanged, but the rebuild's
    # repartitionByRange layout re-compacts the per-append node files back
    # into globally range-sorted ones (the layout id-IN pruning relies on).
    # Nodes swap first so a reader between the swaps sees new nodes (same
    # rows) with old edges — consistent; each swap tolerates a missing live
    # dir, which is also what makes this the recovery path for a crashed
    # append/compact.
    _swap_dir(graph_dir, "nodes", f"{tmp}/nodes")
    _swap_dir(graph_dir, "edges", f"{tmp}/edges")
    new_meta = json.loads(idxfs.read_bytes(f"{tmp}/meta.json").decode())
    new_meta["commit"] = int(meta.get("commit", 0)) + 1
    idxfs.write_bytes_atomic(
        f"{graph_dir}/meta.json", json.dumps(new_meta, indent=1).encode()
    )
    idxfs.delete_dir(tmp)
    _GRAPH_META_CACHE.pop(graph_dir, None)
    _GRAPH_ARRAYS_CACHE.pop(graph_dir, None)
    _GRAPH_META_CACHE.pop(tmp, None)
    _GRAPH_ARRAYS_CACHE.pop(tmp, None)
    return True


def _medoid(nodes: DataFrame) -> int:
    """Entry point = medoid (the node whose vector best aligns with the
    dataset mean) — cuVS's CAGRA->HNSW conversion uses the medoid as the
    HNSW entry point. Mean via Arrow partial sums (one narrow pass, no
    explode); argmax via one codegen'd scan + limit(1)."""
    schema = T.StructType(
        [
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("c", T.LongType()),
        ]
    )

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf["v"].to_numpy())
            yield pd.DataFrame(
                {"s": [mat.sum(axis=0).tolist()], "c": [len(pdf)]}
            )

    parts = nodes.select("v").mapInPandas(partials, schema).collect()
    if not parts:
        raise ValueError("medoid of empty node set")
    total = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    cnt = sum(int(r["c"]) for r in parts)
    mean = (total / max(cnt, 1)).tolist()
    m = _qlit([float(x) for x in mean])
    row = (
        nodes.select(
            "id", (_dot(F.col("v"), m) / (_norm(F.col("v")) * _norm(m))).alias("c")
        )
        .orderBy(F.desc("c"), F.asc("id"))
        .limit(1)
        .collect()
    )
    return int(row[0]["id"])


# meta is immutable once written and consulted on every query — same
# economics as the IVF centroid cache / the FTS term-stats cache.
_GRAPH_META_CACHE: dict[str, dict] = {}


def _load_meta(graph_dir: str) -> dict:
    if graph_dir not in _GRAPH_META_CACHE:
        _GRAPH_META_CACHE[graph_dir] = json.loads(
            idxfs.read_bytes(f"{graph_dir}/meta.json").decode()
        )
    return _GRAPH_META_CACHE[graph_dir]


# ---------------------------------------------------------------------------
# broadcast beam kernel
# ---------------------------------------------------------------------------
#
# The packed adjacency + vectors of a serving graph are tiny relative to the
# corpus they index (n·(dim·8 + degree·8) bytes — ~100 MB per million
# 64-dim nodes), so for any graph that would fit a Spark broadcast we can
# hold it once in driver/worker memory and run the whole best-first descent
# in numpy: ONE materialization job per index (cached across queries)
# instead of ~2 Spark actions per hop × up to max_hops hops per query. This
# is the same economics as Lucene serving HNSW from a mapped file — the
# reference's serving path (CuVS2510GPUVectorsReader) never touches the
# cluster per hop either. Result assembly still runs through the SAME final
# Spark job as the distributed path (mask + rounding), so the output
# contract and float behavior are identical; only candidate discovery moves
# in-process. Graphs above the cap transparently fall back to the
# distributed fused-hop path.

BROADCAST_GRAPH_MAX_BYTES = 256 << 20

# bounded like the FTS _TERM_STATS_CACHE: each entry can hold up to
# BROADCAST_GRAPH_MAX_BYTES of numpy arrays, so cap the number of distinct
# index dirs held at once (insertion-order eviction)
_GRAPH_ARRAYS_CACHE: dict[str, dict] = {}
_GRAPH_ARRAYS_MAX_DIRS = 4


def _graph_bytes_estimate(meta: dict) -> int:
    n = int(meta.get("n", 0))
    dim = int(meta.get("dim", 0))
    degree = int(meta.get("degree", 16))
    return n * (dim * 8 + degree * 8 + 32)


def _graph_local_arrays(spark, index_dir: str, meta: dict) -> dict:
    """Materialize the packed graph into driver-local numpy arrays, cached
    per index dir (meta is immutable once written; *_append/compact swap the
    whole meta.json atomically and bump "commit", which keys the cache)."""
    key = f"{index_dir}@" + json.dumps(
        [meta.get(k) for k in ("commit", "n", "dim", "degree", "entry", "conv", "n_gaps")]
    )
    hit = _GRAPH_ARRAYS_CACHE.get(index_dir)
    if hit is not None and hit["key"] == key:
        return hit
    fmt = meta["format"]
    if fmt == "hnsw-v1":
        adj_rows = (
            spark.read.parquet(f"{index_dir}/graph")
            .select("src", "nbrs")
            .collect()
        )
        adj = {int(r["src"]): np.asarray(r["nbrs"], dtype=np.int64) for r in adj_rows}
    else:
        edge_rows = (
            spark.read.parquet(f"{index_dir}/edges")
            .select("src", "dst")
            .collect()
        )
        adj = {}
        for r in edge_rows:
            adj.setdefault(int(r["src"]), []).append(int(r["dst"]))
        adj = {s: np.asarray(d, dtype=np.int64) for s, d in adj.items()}
    node_rows = (
        spark.read.parquet(f"{index_dir}/nodes").select("id", "v").collect()
    )
    ids = np.asarray([int(r["id"]) for r in node_rows], dtype=np.int64)
    vecs = np.asarray([r["v"] for r in node_rows], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, vecs = ids[order], vecs[order]
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0.0] = 1.0
    arrays = {
        "key": key,
        "adj": adj,
        "ids": ids,
        "vecs": vecs,
        "norms": norms,
        "row_of": {int(i): j for j, i in enumerate(ids)},
    }
    # refreshing a stale entry must not evict an unrelated index: drop our
    # own old entry first, then bound the dir count
    _GRAPH_ARRAYS_CACHE.pop(index_dir, None)
    while len(_GRAPH_ARRAYS_CACHE) >= _GRAPH_ARRAYS_MAX_DIRS:
        _GRAPH_ARRAYS_CACHE.pop(next(iter(_GRAPH_ARRAYS_CACHE)))
    _GRAPH_ARRAYS_CACHE[index_dir] = arrays
    return arrays


def _np_score(arrays: dict, ids: list[int], q: np.ndarray, qn: float) -> dict:
    """Cosine of `ids` against the query, float64 — same math as the Spark
    `_dot/_norm` expression the distributed path collects."""
    rows = [arrays["row_of"][i] for i in ids if i in arrays["row_of"]]
    kept = [i for i in ids if i in arrays["row_of"]]
    if not rows:
        return {}
    m = arrays["vecs"][rows]
    c = (m @ q) / (arrays["norms"][rows] * qn)
    return {int(i): float(s) for i, s in zip(kept, c)}


def _beam_search_np(
    arrays: dict, query: list[float], ef: int, max_hops: int, entry: int
) -> dict[int, float]:
    """The exact beam loop of graph_search, run in-process: same expansion
    policy (all unexpanded beam members per hop), same (score desc, id asc)
    tie-breaks, same stop rule — only the per-hop Spark actions are gone."""
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0
    visited: dict[int, float] = dict(_np_score(arrays, [entry], q, qn))
    expanded: set[int] = set()
    adj = arrays["adj"]
    for _ in range(max_hops):
        beam = sorted(visited.items(), key=lambda t: (-t[1], t[0]))[:ef]
        frontier = [i for i, _ in beam if i not in expanded]
        if not frontier:
            break
        expanded.update(frontier)
        nbrs: set[int] = set()
        for src in frontier:
            a = adj.get(src)
            if a is not None:
                nbrs.update(int(x) for x in a)
        new = [i for i in nbrs if i not in visited]
        visited.update(_np_score(arrays, new, q, qn))
    return visited


def _hop_expand_score(
    spark,
    index_dir: str,
    fmt: str,
    frontier: list[int],
    visited_ids: list[int],
    query: list[float],
) -> dict[int, float]:
    """One hop for the distributed path, two pruned actions: (1) src-pruned
    adjacency scan collecting ≤ frontier·degree candidate ids, (2) id-IN
    pruned node scan scoring the new candidates. Both scans push their IN
    predicates into the sorted parquet (row groups outside the id sets never
    load), so per-hop bytes stay O(frontier·degree) no matter how large the
    graph — the property that matters on this path, which only serves graphs
    too big for the broadcast kernel (joining the tiny candidate set against
    the full node table would instead scan every row group per hop)."""
    fl = [int(x) for x in frontier]
    if fmt == "hnsw-v1":
        rows = (
            spark.read.parquet(f"{index_dir}/graph")
            .where(F.col("src").isin(fl))
            .select("nbrs")
            .collect()
        )
        cand: set[int] = set()
        for r in rows:
            cand.update(int(x) for x in r["nbrs"])
    else:
        rows = (
            spark.read.parquet(f"{index_dir}/edges")
            .where(F.col("src").isin(fl))
            .select("dst")
            .distinct()
            .collect()
        )
        cand = {int(r["dst"]) for r in rows}
    new = sorted(cand.difference(int(x) for x in visited_ids))
    if not new:
        return {}
    q = _qlit([float(x) for x in query])
    scored = (
        spark.read.parquet(f"{index_dir}/nodes")
        .where(F.col("id").isin(new))
        .select(
            "id",
            (_dot(F.col("v"), q) / (_norm(F.col("v")) * _norm(q))).alias("c"),
        )
        .collect()
    )
    return {int(r["id"]): float(r["c"]) for r in scored}


def _check_dim(query: list[float], meta: dict, surface: str) -> None:
    """Query-vector dimension validation at the API boundary — the analog of
    the reference reader re-validating dimension against segment metadata
    before searching (CuVS2510GPUVectorsReader.java:143-154)."""
    dim = int(meta.get("dim", 0))
    if dim and len(query) != dim:
        raise ValueError(
            f"{surface}: query vector has {len(query)} dims but the index "
            f"was built with dim={dim}"
        )


def graph_to_hnsw(spark, graph_dir: str, hnsw_dir: str) -> dict:
    """Serialize the flat edge table into HNSW-style packed adjacency — the
    analog of the reference's CAGRA->HNSW conversion (single-layer, medoid
    entry, neighbors stored as a per-node ordered array exactly like
    Lucene's HNSW neighbor arrays). The packed layout halves the hop scan:
    one row per frontier node instead of `degree` edge rows.

        <hnsw_dir>/graph/  (src, nbrs array<long>)  sorted by src
        <hnsw_dir>/nodes/  (id, v)                  sorted by id
        <hnsw_dir>/meta.json  {format: "hnsw-v1", ...}
    """
    meta = dict(_load_meta(graph_dir))
    edges = spark.read.parquet(f"{graph_dir}/edges")
    packed = (
        edges.groupBy("src")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("score")).alias("ns"), F.col("dst")))
                ),
                lambda s: s["dst"],
            ).alias("nbrs")
        )
    )
    n_parts = max(1, min(32, meta["n"] // 4096 + 1))
    (
        packed.repartitionByRange(n_parts, "src")
        .sortWithinPartitions("src")
        .write.mode("overwrite")
        .parquet(f"{hnsw_dir}/graph")
    )
    (
        spark.read.parquet(f"{graph_dir}/nodes")
        .repartitionByRange(n_parts, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .parquet(f"{hnsw_dir}/nodes")
    )
    meta["format"] = "hnsw-v1"
    meta["source_graph"] = graph_dir
    idxfs.write_bytes_atomic(
        f"{hnsw_dir}/meta.json", json.dumps(meta, indent=1).encode()
    )
    _GRAPH_META_CACHE.pop(hnsw_dir, None)
    _GRAPH_ARRAYS_CACHE.pop(hnsw_dir, None)
    return meta


def _score_ids(spark, index_dir: str, ids: list[int], query: list[float]) -> dict:
    """Score candidate ids against the query: id-pruned node scan + the SAME
    codegen'd cosine expression the exact path uses (score parity with
    cosine_topk by construction)."""
    if not ids:
        return {}
    q = _qlit([float(x) for x in query])
    rows = (
        spark.read.parquet(f"{index_dir}/nodes")
        .where(F.col("id").isin([int(x) for x in ids]))
        .select(
            "id",
            (_dot(F.col("v"), q) / (_norm(F.col("v")) * _norm(q))).alias("c"),
        )
        .collect()
    )
    return {int(r["id"]): float(r["c"]) for r in rows}


def graph_search(
    spark,
    index_dir: str,
    query: list[float],
    k: int = 10,
    ef: int = 48,
    max_hops: int = 12,
    filter_cond=None,
    deletes: DataFrame | None = None,
    kernel: str = "auto",
) -> DataFrame:
    """Best-first beam search over the persisted graph (HNSW-search analog).

    Two serving kernels, selected by ``kernel``:

    - ``"broadcast"`` (default when the packed graph's estimated bytes fit
      BROADCAST_GRAPH_MAX_BYTES): the adjacency + vectors are materialized
      ONCE into cached local arrays and the whole descent runs in numpy —
      zero Spark actions per hop, one final assembly job. This is how Lucene
      serves HNSW (mapped file, no cluster round-trips) and removes the
      ~2-actions-per-hop scheduling floor the distributed loop pays.
    - ``"distributed"`` (forced, or when the graph exceeds the cap): the
      driver holds only the beam (<= ef scored ids); each hop is ONE fused
      Spark job (src-pruned adjacency scan joined to the node table, cosine
      computed executor-side) collecting <= frontier·degree scalar rows.
      The search expands every unexpanded beam member per hop — the batched
      adaptation of HNSW's one-pop loop. Terminates when the beam's top-ef
      is fully expanded (no unexpanded candidate can beat the current worst
      beam member, HNSW's stop rule). Both kernels run the identical loop —
      same expansion policy, same (score desc, id asc) tie-breaks.

    Filtering (filter_cond over the node-attribute table via ``accept_ids``
    below, deletes anti-join) follows Lucene filtered-HNSW: traversal is
    UNfiltered, acceptance applies at collection — so a filtered query never
    strands in a masked-out region.

    Returns (rank, id, score) exactly like cosine_topk — same rounding, same
    tie-break — so the two surfaces are drop-in interchangeable.
    """
    meta = _load_meta(index_dir)
    fmt = meta["format"]
    entry = int(meta["entry"])
    _check_dim(query, meta, "graph_search")

    if kernel == "auto":
        kernel = (
            "broadcast"
            if _graph_bytes_estimate(meta) <= BROADCAST_GRAPH_MAX_BYTES
            else "distributed"
        )
    if kernel == "broadcast":
        arrays = _graph_local_arrays(spark, index_dir, meta)
        visited = _beam_search_np(arrays, query, ef, max_hops, entry)
    else:
        visited = {}
        expanded: set[int] = set()
        visited.update(_score_ids(spark, index_dir, [entry], query))
        for _ in range(max_hops):
            beam = sorted(visited.items(), key=lambda t: (-t[1], t[0]))[:ef]
            frontier = [i for i, _ in beam if i not in expanded]
            if not frontier:
                break
            expanded.update(frontier)
            visited.update(
                _hop_expand_score(
                    spark, index_dir, fmt, frontier, list(visited), query
                )
            )

    # result assembly: re-rank the surviving pool through one Spark job that
    # applies the acceptance mask and the exact path's rounding — identical
    # output contract (and float behavior) to similarity.cosine_topk.
    pool = sorted(visited.items(), key=lambda t: (-t[1], t[0]))
    if filter_cond is None and deletes is None:
        pool = pool[: max(4 * k, 100)]
    ids = [int(i) for i, _ in pool]
    q = _qlit([float(x) for x in query])
    nodes = spark.read.parquet(f"{index_dir}/nodes").where(F.col("id").isin(ids))
    from cuvs_lucene_spark.pipeline.similarity import _apply_vector_mask

    nodes = _apply_vector_mask(nodes, "id", filter_cond, deletes)
    d = nodes.select(
        "id",
        (_dot(F.col("v"), q) / (_norm(F.col("v")) * _norm(q))).alias("cos"),
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


def graph_search_batch(
    spark,
    index_dir: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    ef: int = 48,
    max_hops: int = 12,
    kernel: str = "auto",
    filter_cond=None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Batched beam search — the batch analog of search_batch on the FTS
    side. Same two kernels as graph_search: ``broadcast`` runs every query's
    whole descent against the cached local arrays (zero per-hop actions);
    ``distributed`` shares each hop's scans across the batch (the adjacency
    scan is pruned by the UNION of frontiers; candidate scoring ships each
    node's vector once and scores it against exactly the queries that need
    it, executor-side). Driver state stays <= Q·(ef + degree·frontier) ids.

    filter_cond/deletes follow graph_search's filtered-HNSW semantics
    (traversal UNfiltered, acceptance applied at collection) and are shared
    by the whole batch: result assembly is ONE Spark job over the union of
    the per-query candidate pools — the same masked, rounded, tie-broken
    scoring expression as the single-query path.

    Returns (qid, rank, id, score).
    """
    meta = _load_meta(index_dir)
    fmt = meta["format"]
    entry = int(meta["entry"])
    qmat = {int(qid): [float(x) for x in vec] for qid, vec in queries}
    for qid, vec in qmat.items():
        _check_dim(vec, meta, f"graph_search_batch[qid={qid}]")

    if kernel == "auto":
        kernel = (
            "broadcast"
            if _graph_bytes_estimate(meta) <= BROADCAST_GRAPH_MAX_BYTES
            else "distributed"
        )
    if kernel == "broadcast":
        arrays = _graph_local_arrays(spark, index_dir, meta)
        visited = {
            qid: _beam_search_np(arrays, vec, ef, max_hops, entry)
            for qid, vec in qmat.items()
        }
    else:
        visited = {qid: {} for qid in qmat}
        expanded: dict[int, set[int]] = {qid: set() for qid in qmat}
        first = _score_pairs_batch(
            spark, index_dir, [(qid, entry) for qid in qmat], qmat
        )
        for qid, i, s in first:
            visited[qid][i] = s

        for _ in range(max_hops):
            frontiers: dict[int, list[int]] = {}
            for qid in qmat:
                beam = sorted(
                    visited[qid].items(), key=lambda t: (-t[1], t[0])
                )[:ef]
                frontiers[qid] = [i for i, _ in beam if i not in expanded[qid]]
            union_frontier = sorted({i for f in frontiers.values() for i in f})
            if not union_frontier:
                break
            nbr_map = _expand_map(spark, index_dir, fmt, union_frontier)
            need: list[tuple[int, int]] = []
            for qid, f in frontiers.items():
                expanded[qid].update(f)
                cand: set[int] = set()
                for src in f:
                    cand.update(nbr_map.get(src, ()))
                need.extend((qid, i) for i in cand if i not in visited[qid])
            for qid, i, s in _score_pairs_batch(spark, index_dir, need, qmat):
                visited[qid][i] = s

    # result assembly: ONE Spark job for the whole batch — the (qid, id)
    # candidate pools broadcast against an id-pruned node scan, masked
    # (acceptance-at-collection) and re-scored with the exact path's
    # expression and rounding, ranked per qid. Identical contract to
    # graph_search's single-query assembly.
    pool_rows = []
    for qid in sorted(qmat):
        pool = sorted(visited[qid].items(), key=lambda t: (-t[1], t[0]))
        if filter_cond is None and deletes is None:
            pool = pool[: max(4 * k, 100)]
        pool_rows.extend((int(qid), int(i)) for i, _ in pool)
    if not pool_rows:
        return spark.createDataFrame(
            [], "qid long, rank long, id long, score double"
        )
    pools = spark.createDataFrame(pool_rows, "qid long, id long")
    ids = sorted({i for _q, i in pool_rows})
    nodes = spark.read.parquet(f"{index_dir}/nodes").where(
        F.col("id").isin(ids)
    )
    from cuvs_lucene_spark.pipeline.similarity import _apply_vector_mask

    nodes = _apply_vector_mask(nodes, "id", filter_cond, deletes)
    qv_arr = F.create_map(
        *[
            x
            for qid in sorted(qmat)
            for x in (F.lit(int(qid)), _qlit(qmat[qid]))
        ]
    )
    scored = (
        nodes.join(F.broadcast(pools), "id")
        .withColumn("_qv", qv_arr[F.col("qid")])
        .select(
            "qid",
            "id",
            F.round(
                _dot(F.col("v"), F.col("_qv"))
                / (_norm(F.col("v")) * _norm(F.col("_qv"))),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").cast("long"),
            F.col("rank").cast("long"),
            F.col("id").cast("long"),
            "score",
        )
        .orderBy("qid", "rank")
    )


def _expand_map(
    spark, index_dir: str, fmt: str, frontier: list[int]
) -> dict[int, list[int]]:
    fl = [int(x) for x in frontier]
    if fmt == "hnsw-v1":
        rows = (
            spark.read.parquet(f"{index_dir}/graph")
            .where(F.col("src").isin(fl))
            .collect()
        )
        return {int(r["src"]): [int(x) for x in r["nbrs"]] for r in rows}
    rows = (
        spark.read.parquet(f"{index_dir}/edges")
        .where(F.col("src").isin(fl))
        .select("src", "dst")
        .collect()
    )
    m: dict[int, list[int]] = {}
    for r in rows:
        m.setdefault(int(r["src"]), []).append(int(r["dst"]))
    return m


def _score_pairs_batch(
    spark,
    index_dir: str,
    need: list[tuple[int, int]],
    qmat: dict[int, list[float]],
) -> list[tuple[int, int, float]]:
    """Score (qid, id) pairs executor-side: id-pruned node scan broadcast-
    joined to the tiny pair list; an Arrow kernel holding the (small) query
    matrix computes each dot product. Collects scalar rows only."""
    if not need:
        return []
    ids = sorted({i for _, i in need})
    pairs = spark.createDataFrame(need, "qid long, id long")
    nodes = spark.read.parquet(f"{index_dir}/nodes").where(
        F.col("id").isin([int(x) for x in ids])
    )
    qarr = {qid: np.asarray(v, dtype=np.float64) for qid, v in qmat.items()}
    qnorm = {qid: float(np.linalg.norm(v)) for qid, v in qarr.items()}

    @F.pandas_udf("double")
    def qcos(qid: pd.Series, v: pd.Series) -> pd.Series:
        out = np.empty(len(qid), dtype=np.float64)
        for j, (q, vec) in enumerate(zip(qid.to_numpy(), v.to_numpy())):
            x = np.asarray(vec, dtype=np.float64)
            out[j] = float(np.dot(x, qarr[int(q)])) / (
                float(np.linalg.norm(x)) * qnorm[int(q)]
            )
        return pd.Series(out)

    rows = (
        nodes.join(F.broadcast(pairs), "id")
        .select("qid", "id", qcos("qid", "v").alias("c"))
        .collect()
    )
    return [(int(r["qid"]), int(r["id"]), float(r["c"])) for r in rows]
