"""Graph ANN (CAGRA->HNSW analog) tests.

Pins, in the reference's own test shapes:
  * build determinism (two builds, byte-identical edge sets — the
    precondition for frozen expected ids,
    ``TestCagraToHnswSerializationAndSearch.java:133-151``),
  * NN-Descent graph quality (edge recall vs the exact numpy kNN graph),
  * search recall vs the exact brute-force oracle (``generateExpectedResults``
    shape, ``TestCuVSRandomizedVectorSearch.java:154-183``),
  * provable exactness of the complete-graph verifier config,
  * engine beam search == an independent numpy transliteration of best-first
    search over the SAME persisted graph (exact id+score equality),
  * HNSW serialization round-trip (search identical before/after conversion,
    the CagraToHnsw contract),
  * filtered / deleted semantics (traverse-all, collect-accepted,
    ``TestCuVSDeletedDocuments`` + acceptDocs semantics),
  * batch search == per-query search.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.pipeline import graph as G
from cuvs_lucene_spark.pipeline.similarity import cosine_topk

SF_DIR = "/root/testdata/sf0.001"
QUERY = None  # filled by fixture: embeddings row 7's vector, perturbed


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb):
    pdf = emb.orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, mat


@pytest.fixture(scope="module")
def qvec(emb_np):
    ids, mat = emb_np
    rng = np.random.default_rng(7)
    v = mat[7] + rng.normal(0, 0.05, size=mat.shape[1])
    return [float(x) for x in v]


@pytest.fixture(scope="module")
def graph_dir(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("graph") / "knn")
    G.knn_graph_build(emb, d, degree=12, iters=3)
    return d


@pytest.fixture(scope="module")
def hnsw_dir(spark, graph_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("graph") / "hnsw")
    G.graph_to_hnsw(spark, graph_dir, d)
    return d


def _edge_set(spark, d):
    return {
        (int(r["src"]), int(r["dst"]), round(float(r["score"]), 9))
        for r in spark.read.parquet(f"{d}/edges").collect()
    }


def test_build_is_deterministic(spark, emb, tmp_path):
    d1, d2 = str(tmp_path / "g1"), str(tmp_path / "g2")
    m1 = G.knn_graph_build(emb, d1, degree=8, iters=2)
    m2 = G.knn_graph_build(emb, d2, degree=8, iters=2)
    assert m1["entry"] == m2["entry"]
    assert m1["conv"] == m2["conv"]
    assert _edge_set(spark, d1) == _edge_set(spark, d2)


def test_nn_descent_improves_and_converges(spark, emb, graph_dir, emb_np):
    """Edge recall vs the exact kNN graph must be high after NN-Descent —
    and strictly better than the LSH seed round alone."""
    ids, mat = emb_np
    meta = json.loads(open(f"{graph_dir}/meta.json").read())
    deg = meta["degree"]
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(sims, -np.inf)
    true_edges = set()
    for r in range(len(ids)):
        order = np.lexsort((ids, -sims[r]))[:deg]
        true_edges.update((int(ids[r]), int(ids[c])) for c in order)

    got = {(s, d) for s, d, _ in _edge_set(spark, graph_dir)}
    recall = len(got & true_edges) / len(true_edges)
    assert recall >= 0.85, f"kNN-graph edge recall {recall:.3f}"

    # seed-only graph (iters=0) must be measurably worse — NN-Descent works
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        G.knn_graph_build(emb, f"{td}/g0", degree=deg, iters=0)
        seed_got = {(s, d) for s, d, _ in _edge_set(spark, f"{td}/g0")}
        seed_recall = len(seed_got & true_edges) / len(true_edges)
    assert recall > seed_recall


def _exact_topk(mat, ids, q, k):
    qn = np.asarray(q, dtype=np.float64)
    cos = (mat @ qn) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qn))
    order = np.lexsort((ids, -cos))[:k]
    return [(int(ids[i]), float(cos[i])) for i in order]


def test_search_recall_vs_exact(spark, graph_dir, emb_np, qvec):
    ids, mat = emb_np
    exp = {i for i, _ in _exact_topk(mat, ids, qvec, 10)}
    got = {int(r["id"]) for r in G.graph_search(spark, graph_dir, qvec, k=10, ef=64).collect()}
    recall = len(got & exp) / 10
    assert recall >= 0.9, f"recall@10 {recall}"


def test_complete_graph_config_is_provably_exact(spark, emb, tmp_path, qvec):
    """The verifier config: complete graph + ef>=n — every node is one hop
    from the entry, the beam never truncates, so the result IS the exact
    top-k (ids AND rounded scores equal to cosine_topk)."""
    sub = emb.where(F.col("vec_id") < 200)
    d = str(tmp_path / "full")
    G.knn_graph_build(sub, d, complete=True)
    got = G.graph_search(spark, d, qvec, k=10, ef=250).collect()
    exp = cosine_topk(sub, qvec, k=10).collect()
    assert [(r["rank"], r["id"], r["score"]) for r in got] == [
        (r["rank"], r["id"], r["score"]) for r in exp
    ]


def test_complete_cap_actually_guards(spark, emb, tmp_path, monkeypatch):
    monkeypatch.setattr(G, "COMPLETE_GRAPH_CAP", 100)
    with pytest.raises(ValueError, match="capped"):
        G.knn_graph_build(emb, str(tmp_path / "x"), complete=True)


def _numpy_beam_search(edges_by_src, score_of, entry, k, ef, max_hops):
    """Independent transliteration of the engine's batched best-first walk
    (the spec the engine must match exactly on the same persisted graph)."""
    visited = {entry: score_of(entry)}
    expanded = set()
    for _ in range(max_hops):
        beam = sorted(visited.items(), key=lambda t: (-t[1], t[0]))[:ef]
        frontier = [i for i, _ in beam if i not in expanded]
        if not frontier:
            break
        expanded.update(frontier)
        new = set()
        for s in frontier:
            new.update(edges_by_src.get(s, ()))
        for i in new:
            if i not in visited:
                visited[i] = score_of(i)
    pool = sorted(visited.items(), key=lambda t: (-t[1], t[0]))[:k]
    return [(i, round(s, 6)) for i, s in pool]


def test_engine_matches_numpy_spec_on_same_graph(spark, graph_dir, emb_np, qvec):
    ids, mat = emb_np
    id_to_row = {int(v): j for j, v in enumerate(ids)}
    qn = np.asarray(qvec, dtype=np.float64)

    def score_of(i):
        x = mat[id_to_row[i]]
        return float(np.dot(x, qn)) / (
            float(np.linalg.norm(x)) * float(np.linalg.norm(qn))
        )

    edges_by_src = {}
    for r in spark.read.parquet(f"{graph_dir}/edges").collect():
        edges_by_src.setdefault(int(r["src"]), set()).add(int(r["dst"]))
    meta = json.loads(open(f"{graph_dir}/meta.json").read())

    exp = _numpy_beam_search(edges_by_src, score_of, meta["entry"], 10, 48, 12)
    got = [
        (int(r["id"]), float(r["score"]))
        for r in G.graph_search(spark, graph_dir, qvec, k=10, ef=48).collect()
    ]
    assert [i for i, _ in got] == [i for i, _ in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert gs == pytest.approx(es, abs=2e-6)


def test_hnsw_roundtrip_search_identical(spark, graph_dir, hnsw_dir, qvec):
    a = G.graph_search(spark, graph_dir, qvec, k=10, ef=48).collect()
    b = G.graph_search(spark, hnsw_dir, qvec, k=10, ef=48).collect()
    assert [(r["rank"], r["id"], r["score"]) for r in a] == [
        (r["rank"], r["id"], r["score"]) for r in b
    ]
    meta = json.loads(open(f"{hnsw_dir}/meta.json").read())
    assert meta["format"] == "hnsw-v1"
    # packed adjacency is score-ordered (Lucene HNSW neighbor-array contract)
    row = (
        spark.read.parquet(f"{hnsw_dir}/graph")
        .where(F.col("src") == meta["entry"])
        .collect()
    )
    assert row and len(row[0]["nbrs"]) == len(set(row[0]["nbrs"]))


def test_filtered_collects_only_accepted_but_still_traverses(
    spark, emb, graph_dir, qvec
):
    accepted = emb.where(F.col("label") % 2 == 0).select("vec_id")
    acc = {int(r["vec_id"]) for r in accepted.collect()}
    got = G.graph_search(
        spark, graph_dir, qvec, k=10, ef=64, filter_cond="id % 2 >= 0"
    ).collect()
    assert len(got) == 10  # trivially-true filter returns full k
    got2 = G.graph_search(
        spark,
        graph_dir,
        qvec,
        k=10,
        ef=64,
        filter_cond=F.col("id").isin(list(acc)),
    ).collect()
    assert got2 and all(int(r["id"]) in acc for r in got2)


def test_deleted_never_returned(spark, graph_dir, qvec):
    full = G.graph_search(spark, graph_dir, qvec, k=5, ef=64).collect()
    dead = [int(full[0]["id"]), int(full[1]["id"])]
    deletes = spark.createDataFrame([(d,) for d in dead], "id long")
    got = G.graph_search(spark, graph_dir, qvec, k=5, ef=64, deletes=deletes).collect()
    assert all(int(r["id"]) not in dead for r in got)
    # survivors keep their exact scores (mask never rescales)
    surv = {int(r["id"]): r["score"] for r in full if int(r["id"]) not in dead}
    for r in got:
        if int(r["id"]) in surv:
            assert r["score"] == surv[int(r["id"])]


def test_batch_matches_single(spark, graph_dir, emb_np):
    ids, mat = emb_np
    rng = np.random.default_rng(3)
    qs = []
    for qid, row in enumerate((11, 42, 99)):
        v = mat[row] + rng.normal(0, 0.05, size=mat.shape[1])
        qs.append((qid, [float(x) for x in v]))
    batch = G.graph_search_batch(spark, graph_dir, qs, k=5, ef=48)
    rows = batch.collect()
    for qid, vec in qs:
        single = G.graph_search(spark, graph_dir, vec, k=5, ef=48).collect()
        mine = sorted(
            [r for r in rows if int(r["qid"]) == qid], key=lambda r: int(r["rank"])
        )
        assert [int(r["id"]) for r in mine] == [int(r["id"]) for r in single]
        for a, b in zip(mine, single):
            assert float(a["score"]) == pytest.approx(float(b["score"]), abs=2e-6)


# ---------------------------------------------------------------------------
# append / merge lifecycle (native index merge analog,
# CuVS2510GPUVectorsWriter.java:372-409,491-519)
# ---------------------------------------------------------------------------


def _true_edges(ids, mat, deg):
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(sims, -np.inf)
    out = set()
    for r in range(len(ids)):
        order = np.lexsort((ids, -sims[r]))[:deg]
        out.update((int(ids[r]), int(ids[c])) for c in order)
    return out


@pytest.fixture(scope="module")
def appended_dir(spark, emb, tmp_path_factory):
    """Graph built over the low-id half, then the high-id half appended."""
    cut = int(emb.agg(F.expr("percentile(vec_id, 0.5)")).collect()[0][0])
    d = str(tmp_path_factory.mktemp("graph") / "appended")
    G.knn_graph_build(emb.where(F.col("vec_id") < cut), d, degree=12, iters=3)
    G.knn_graph_append(emb.where(F.col("vec_id") >= cut), d, iters=2)
    return d


def test_append_edge_recall_matches_rebuild_bound(
    spark, emb, appended_dir, emb_np
):
    """append==rebuild quality: edge recall of the appended graph vs the
    exact kNN graph over the FULL corpus must meet the same >=0.85 bound the
    from-scratch build is held to — new nodes are wired in AND old nodes
    adopt better new neighbors."""
    ids, mat = emb_np
    meta = json.loads(open(f"{appended_dir}/meta.json").read())
    assert meta["n"] == len(ids)
    assert meta["n_appends"] == 1 and meta["commit"] >= 1
    true = _true_edges(ids, mat, meta["degree"])
    got = {(s, d) for s, d, _ in _edge_set(spark, appended_dir)}
    recall = len(got & true) / len(true)
    assert recall >= 0.85, f"appended-graph edge recall {recall:.3f}"


def test_append_search_recall(spark, appended_dir, emb_np, qvec, tmp_path):
    """Serving over an appended graph: recall@10 >= 0.9 vs exact cosine —
    the same bar as the from-scratch build's serving test. Exercises the
    re-conversion path (graph_to_hnsw after append)."""
    h = str(tmp_path / "hnsw_app")
    G.graph_to_hnsw(spark, appended_dir, h)
    ids, mat = emb_np
    norms = np.linalg.norm(mat, axis=1)
    q = np.asarray(qvec)
    cos = (mat @ q) / (norms * np.linalg.norm(q))
    exp = {int(ids[i]) for i in np.lexsort((ids, -cos))[:10]}
    got = {
        int(r["id"])
        for r in G.graph_search(spark, h, qvec, k=10, ef=64).collect()
    }
    assert len(got & exp) / 10 >= 0.9


def test_append_entry_matches_rebuild(spark, emb, appended_dir, tmp_path):
    """The appended graph's entry point equals the full rebuild's (both are
    the medoid of the same final node set)."""
    d2 = str(tmp_path / "full")
    m_full = G.knn_graph_build(emb, d2, degree=12, iters=3)
    meta = json.loads(open(f"{appended_dir}/meta.json").read())
    assert meta["entry"] == m_full["entry"]


def test_append_guards(spark, emb, tmp_path):
    d = str(tmp_path / "g")
    G.knn_graph_build(emb.where(F.col("vec_id") < 64), d, degree=8, iters=1)
    # id collision
    with pytest.raises(ValueError, match="collide"):
        G.knn_graph_append(emb.where(F.col("vec_id") < 8), d)
    # dim mismatch
    bad = spark.createDataFrame(
        [(100000, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim"):
        G.knn_graph_append(bad, d)
    # complete-mode graphs refuse append
    dc = str(tmp_path / "gc")
    G.knn_graph_build(
        emb.where(F.col("vec_id") < 32), dc, complete=True
    )
    with pytest.raises(ValueError, match="complete"):
        G.knn_graph_append(emb.where(F.col("vec_id") >= 32), dc)


def test_stats_and_compact_trigger(spark, emb, tmp_path):
    """knn_graph_stats exposes the appended fraction; knn_graph_compact
    declines below the bound, rebuilds above it (or when forced), and the
    rebuilt graph equals a from-scratch build over the same node set —
    the graph's ivf_compact analog."""
    cut = int(emb.agg(F.expr("percentile(vec_id, 0.75)")).collect()[0][0])
    d = str(tmp_path / "gc2")
    G.knn_graph_build(emb.where(F.col("vec_id") < cut), d, degree=8, iters=2)
    G.knn_graph_append(emb.where(F.col("vec_id") >= cut), d, iters=1)
    st = G.knn_graph_stats(spark, d)
    assert 0.0 < st["appended_frac"] < 0.5
    assert st["n_appends"] == 1
    assert st["min_deg"] >= 1 and st["max_deg"] <= st["degree_target"]
    # below the bound: declines
    assert G.knn_graph_compact(spark, d, appended_frac_bound=0.5) is False
    # forced: rebuild runs, lineage resets, equals a from-scratch build
    assert G.knn_graph_compact(spark, d, force=True) is True
    meta = json.loads(open(f"{d}/meta.json").read())
    assert meta["n_base"] == meta["n"] and meta.get("n_appends", 0) == 0
    assert meta["commit"] >= 1
    d2 = str(tmp_path / "gc2_ref")
    G.knn_graph_build(emb, d2, degree=8, iters=2)
    assert {(s, dd) for s, dd, _ in _edge_set(spark, d)} == {
        (s, dd) for s, dd, _ in _edge_set(spark, d2)
    }
    st2 = G.knn_graph_stats(spark, d)
    assert st2["appended_frac"] == 0.0


def test_append_batch_guards(spark, emb, tmp_path):
    """In-batch duplicate ids and mixed dims are rejected up front."""
    d = str(tmp_path / "gbg")
    G.knn_graph_build(emb.where(F.col("vec_id") < 64), d, degree=8, iters=1)
    dup = spark.createDataFrame(
        [(10**6, [0.1] * 64), (10**6, [0.2] * 64)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="duplicate"):
        G.knn_graph_append(dup, d)
    # distinct raw ids that collide once stored as long ids
    dup_cast = spark.createDataFrame(
        [(10**6 + 0.2, [0.1] * 64), (10**6 + 0.7, [0.2] * 64)],
        "vec_id double, embedding array<double>",
    )
    with pytest.raises(ValueError, match="duplicate"):
        G.knn_graph_append(dup_cast, d)
    mixed =spark.createDataFrame(
        [(10**6, [0.1] * 64), (10**6 + 1, [0.2] * 32)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dims in"):
        G.knn_graph_append(mixed, d)


def test_compact_recovers_crashed_swap(spark, emb, tmp_path):
    """Crash window repro: edges/ renamed away (only .edges.old remains) —
    the documented recovery, knn_graph_compact(force=True), must rebuild a
    working graph instead of crashing on the missing dir."""
    import shutil

    d = str(tmp_path / "gcrash")
    G.knn_graph_build(emb.where(F.col("vec_id") < 128), d, degree=8, iters=1)
    shutil.move(f"{d}/edges", f"{d}.edges.old")  # mid-swap crash state
    assert G.knn_graph_compact(spark, d, force=True) is True
    meta = json.loads(open(f"{d}/meta.json").read())
    assert meta["n"] == 128
    # graph serves again
    h = str(tmp_path / "gcrash_h")
    G.graph_to_hnsw(spark, d, h)
    qv = [0.1] * 64
    assert G.graph_search(spark, h, qv, k=3).count() == 3


def test_batch_filtered_matches_single(spark, hnsw_dir, emb_np):
    """graph_search_batch with filter/deletes == per-query graph_search with
    the same mask (shared single-job assembly, identical rounding and
    tie-breaks)."""
    ids, mat = emb_np
    rng = np.random.default_rng(23)
    qs = [
        (0, [float(x) for x in mat[3] + rng.normal(0, 0.05, mat.shape[1])]),
        (1, [float(x) for x in mat[11] + rng.normal(0, 0.05, mat.shape[1])]),
    ]
    cond = F.col("id") % 2 == 0
    dels = spark.createDataFrame([(int(ids[0]),)], "id long")
    batch = G.graph_search_batch(
        spark, hnsw_dir, qs, k=5, filter_cond=cond, deletes=dels
    ).collect()
    for qid, qv in qs:
        single = G.graph_search(
            spark, hnsw_dir, qv, k=5, filter_cond=cond, deletes=dels
        ).collect()
        got = [(r["rank"], r["id"], r["score"]) for r in batch if r["qid"] == qid]
        want = [(r["rank"], r["id"], r["score"]) for r in single]
        assert got == want, f"qid={qid}"
        assert all(i % 2 == 0 and i != int(ids[0]) for _rk, i, _s in got)
