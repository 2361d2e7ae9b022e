"""Training-data pipeline operator tests (dedup, similarity, textstats,
multimodal plumbing). DuckDB value-parity for these ops is covered by the
driver gate (tools/check_entry.py); here we pin functional semantics the
oracle can't see: synthetic duplicate recovery, LSH completeness vs the
exact pairs, SimHash band-join losslessness, IVF exactness/recall, and the
Arrow batch plumbing of the multimodal stubs.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.pipeline import dedup as D
from cuvs_lucene_spark.pipeline import multimodal as M
from cuvs_lucene_spark.pipeline import similarity as S
from cuvs_lucene_spark.pipeline import textstats as T

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_corpus(spark):
    """12 docs: 3 exact-dup groups, 1 near-dup pair, rest unique."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "  THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN AND AGAIN  "),
        (3, "completely different text about spark dataframes and shuffles"),
        (4, "completely different text about spark dataframes and shuffles"),
        (5, "a unique sentence mentioning inverted indexes and posting lists"),
        (6, "the quick brown fox jumps over the lazy dog again and often"),  # near-dup of 0
        (7, "another singleton row with nothing in common with the others"),
        (8, "row eight talks about bm25 scoring and term frequencies"),
        (9, "row nine talks about bm25 scoring and term frequencies"),
        (10, None),
        (11, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_groups_recovered(self, spark, dup_corpus):
        got = {
            (r["id"], r["canonical_id"], r["group_size"])
            for r in D.exact_duplicates(dup_corpus).collect()
        }
        # group {0,1,2} (case/trim-insensitive), {3,4}; null and empty
        # normalize to the same '' group {10, 11}; 8/9 differ by one word →
        # NOT exact duplicates
        assert got == {
            (0, 0, 3), (1, 0, 3), (2, 0, 3),
            (3, 3, 2), (4, 3, 2),
            (10, 10, 2), (11, 10, 2),
        }


class TestJaccardFamilies:
    def test_near_dup_found_exact_jaccard(self, spark, dup_corpus):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.ngram_jaccard_pairs(dup_corpus, n=3, threshold=0.5).collect()
        }
        assert (0, 6) in pairs  # the engineered near-dup
        assert (0, 1) in pairs and (0, 2) in pairs  # exact dups have j=1.0

    def test_lsh_equals_exact(self, spark, docs):
        exact = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
        )
        lsh = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in D.minhash_lsh_pairs(
                docs, n=3, n_hashes=32, bands=16, threshold=0.5
            ).collect()
        )
        assert len(exact) > 0 and lsh == exact

    def test_frequency_pruning_monotone(self, spark, docs):
        full = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).count()
        pruned = D.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, max_shingle_df=50
        ).count()
        assert pruned <= full


class TestSimHash:
    def test_band_join_is_lossless(self, spark, docs):
        """Banded search must equal the quadratic scan for d < bands."""
        fps = D.simhash_fingerprints(docs, n=3).collect()
        quad = set()
        for i, a in enumerate(fps):
            for b in fps[i + 1:]:
                x, y = (a, b) if a["id"] < b["id"] else (b, a)
                h = bin(x["fp"] ^ y["fp"]).count("1")
                if h <= 3:
                    quad.add((x["id"], y["id"], h))
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in D.simhash_pairs(docs, n=3, max_hamming=3).collect()
        }
        assert got == quad and len(quad) > 0


class TestSimilarity:
    QV = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]

    def test_ivf_all_probe_is_exact(self, spark, emb):
        exact = [(r["id"], r["score"]) for r in S.cosine_topk(emb, self.QV, 10).collect()]
        cents = S.ivf_train(emb, n_centroids=8, iters=2)
        ivf = [
            (r["id"], r["score"])
            for r in S.ivf_search(emb, cents, self.QV, 10, nprobe=8).collect()
        ]
        assert ivf == exact

    def test_ivf_partial_probe_recall(self, spark, emb):
        exact_ids = {r["id"] for r in S.cosine_topk(emb, self.QV, 10).collect()}
        cents = S.ivf_train(emb, n_centroids=8, iters=2)
        got = {
            r["id"] for r in S.ivf_search(emb, cents, self.QV, 10, nprobe=4).collect()
        }
        # deterministic corpus+algorithm → fixed recall; floor it loosely
        assert len(got & exact_ids) >= 5

    def test_ivfpq_adc_equals_reconstruction_cosine(self, spark, emb, tmp_path):
        """ADC identity: the kernel's score for every vector == cos(q, x̂)
        where x̂ is the decoded (sub-centroid-concatenated) reconstruction —
        the defining property of asymmetric distance computation."""
        d = str(tmp_path / "ivfpq")
        S.ivfpq_build(emb, d, n_centroids=4, m=8, ks=16, iters=2)
        books = S._load_pq_books(spark, d)
        rows = spark.read.parquet(f"{d}/vectors").select("id", "v", "codes").collect()
        got = {
            r["id"]: r["score"]
            for r in S.ivfpq_search(
                spark, d, self.QV, k=len(rows), nprobe=4, refine=None
            ).collect()
        }
        q = np.asarray(self.QV)
        n_sub, _, dsub = books.shape
        for r in rows:
            codes = np.frombuffer(r["codes"], dtype=np.uint8)
            xhat = np.concatenate([books[m, codes[m]] for m in range(n_sub)])
            exp = float(xhat @ q / (np.linalg.norm(xhat) * np.linalg.norm(q)))
            assert abs(got[r["id"]] - round(exp, 6)) < 1e-9, r["id"]

    def test_ivfpq_degenerate_config_is_exact(self, spark, emb, tmp_path):
        """nprobe=C + refine covering the corpus == exact cosine top-k (the
        hash-match gate configuration)."""
        d = str(tmp_path / "ivfpq")
        S.ivfpq_build(emb, d, n_centroids=4, m=8, ks=16, iters=2)
        exact = [
            (r["id"], r["score"]) for r in S.cosine_topk(emb, self.QV, 10).collect()
        ]
        got = [
            (r["id"], r["score"])
            for r in S.ivfpq_search(
                spark, d, self.QV, k=10, nprobe=4, refine=10**6
            ).collect()
        ]
        assert got == exact

    def test_ivfpq_probe_recall_and_rerank_scores(self, spark, emb, tmp_path):
        """Approximate config: with enough refine, PQ recall reaches the
        COARSE probe ceiling — every exact-top-10 id that IVF-flat finds at
        the same nprobe (the probed-partition pool is identical and the
        rerank is exact) — and reranked scores are EXACT cosines."""
        d = str(tmp_path / "ivfpq")
        S.ivfpq_build(emb, d, n_centroids=8, m=8, ks=16, iters=2)
        exact = {
            r["id"]: r["score"] for r in S.cosine_topk(emb, self.QV, 10).collect()
        }
        cents = spark.read.parquet(f"{d}/centroids")
        flat_hits = {
            r["id"]
            for r in S.ivf_search(emb, cents, self.QV, 10, nprobe=4).collect()
        } & set(exact)
        got = {
            r["id"]: r["score"]
            for r in S.ivfpq_search(
                spark, d, self.QV, k=10, nprobe=4, refine=16
            ).collect()
        }
        hits = set(got) & set(exact)
        assert hits >= flat_hits and len(hits) >= 5
        for i in hits:
            assert got[i] == exact[i]

    def test_ivf_persisted_probe_matches_inmemory(self, spark, emb, tmp_path):
        """ivf_build + ivf_probe_search == the in-memory ivf_search for the
        same (centroids, nprobe), and the probe's scan is partition-pruned."""
        d = str(tmp_path / "ivf")
        S.ivf_build(emb, d, n_centroids=8, iters=2)
        cents = S.ivf_train(emb, n_centroids=8, iters=2)
        mem = [(r["id"], r["score"])
               for r in S.ivf_search(emb, cents, self.QV, 10, nprobe=3).collect()]
        per = [(r["id"], r["score"])
               for r in S.ivf_probe_search(spark, d, self.QV, 10, nprobe=3).collect()]
        assert per == mem
        # the cid predicate must land in PartitionFilters (pruned read),
        # never as a post-scan Filter over all partitions
        import pyspark.sql.functions as F
        probe = spark.read.parquet(f"{d}/vectors").where(F.col("cid").isin([0, 1]))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "cid" in plan.split("PartitionFilters")[1][:80]

    def test_tie_break_ascending_id(self, spark):
        e = spark.createDataFrame(
            [(3, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        got = [r["id"] for r in S.cosine_topk(e, [1.0, 0.0], 3).collect()]
        assert got == [1, 3, 2]  # ids 1,3 both cos=1.0 → ascending id


class TestTextStats:
    def test_lang_id_obvious_sentences(self, spark):
        d = spark.createDataFrame(
            [
                (0, "the cat and the dog sat in that house for it was warm"),
                (1, "el perro y la casa de la ciudad es un lugar para los gatos"),
                (2, "xyzzy plugh qwerty"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["lang_pred"] for r in T.with_lang_id(d).collect()}
        assert got == {0: "en", 1: "es", 2: "und"}

    def test_quality_bounds_and_fingerprint_stability(self, spark, docs):
        rows = T.with_fingerprint(T.with_quality(docs)).select(
            "quality", "fingerprint"
        ).collect()
        assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
        assert all(0 <= r["fingerprint"] < 2_147_483_647 for r in rows)
        again = T.with_fingerprint(docs).select("fingerprint").collect()
        assert [r["fingerprint"] for r in again] == [r["fingerprint"] for r in rows]


    def test_fingerprint_impls_identical(self, spark, docs):
        """The Arrow-batched numpy kernel and the Catalyst fold are pinned
        equal on real docs plus NULL/empty/unicode/long edge rows."""
        edge = spark.createDataFrame(
            [
                (100000, None),
                (100001, ""),
                (100002, "A"),
                (100003, "\u00fcn\u00efcode \u03a9 text \u0130stanbul"),
                (100004, "y" * 9001),
            ],
            "doc_id long, text string",
        )
        d = docs.select("doc_id", "text").unionByName(edge)
        a = {r["doc_id"]: r["fingerprint"]
             for r in T.with_fingerprint(d, impl="arrow").collect()}
        e = {r["doc_id"]: r["fingerprint"]
             for r in T.with_fingerprint(d, impl="expr").collect()}
        assert a == e

class TestMultimodal:
    def test_feature_plumbing_matches_local_stub(self, spark, docs):
        assets = M.derive_assets(docs)
        feats = {r["asset_id"]: r["features"] for r in M.extract_features(assets).collect()}
        local = {
            r["doc_id"]: M.fake_decode_features(
                M.KINDS[r["doc_id"] % 3],
                (r["text"] or "").encode(),
            )
            for r in docs.collect()
        }
        assert feats == local

    def test_decode_stub_raises(self):
        with pytest.raises(NotImplementedError):
            M.decode_asset("image", b"\x00")

    def test_frame_sample_counts(self, spark, docs):
        assets = M.derive_assets(docs)
        frames = M.frame_sample(assets, every_n_bytes=64)
        per = frames.groupBy("asset_id").count().collect()
        meta = {r["asset_id"]: r["meta"]["n_bytes"] for r in assets.collect()}
        for r in per:
            assert r["count"] == max(meta[r["asset_id"]] // 64, 1)
        kinds = {r["asset_id"] % 3 for r in per}
        assert kinds == {2}  # only 'video' assets produce frames


class TestEmbeddingNearDup:
    def test_lsh_subset_of_exact(self, spark, emb):
        exact = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_neardup_pairs(emb, threshold=0.4).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_lsh_pairs(emb, threshold=0.4, bits=16, bands=4).collect()
        }
        assert lsh and lsh <= exact  # verified candidates: no false positives

    def test_planted_neardups_recovered(self, spark):
        """Planted near-dups (base + 2% noise → cos ≈ 0.999) must be found by
        the LSH path at a production threshold; unrelated random vectors must
        not pair. Deterministic data (seeded numpy) + deterministic
        hyperplanes → a fixed, reproducible result."""
        rng = np.random.RandomState(7)
        base = rng.randn(20, 32)
        rows = []
        for i, v in enumerate(base):
            rows.append((2 * i, [float(x) for x in v]))
            rows.append((2 * i + 1, [float(x) for x in v + 0.02 * rng.randn(32)]))
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_lsh_pairs(
                e, threshold=0.9, bits=32, bands=8, dim=32
            ).collect()
        }
        planted = {(2 * i, 2 * i + 1) for i in range(20)}
        assert got == planted  # full recall on planted pairs, zero strays

    def test_hyperplanes_deterministic_rademacher(self):
        H1 = S.rademacher_hyperplanes(16, 64)
        H2 = S.rademacher_hyperplanes(16, 64)
        assert (H1 == H2).all() and set(np.unique(H1)) == {-1.0, 1.0}


class TestVectorFilteredAndLifecycle:
    """Filtered / deletes-aware vector search (the reference's primary query
    surface: acceptDocs filtering, ``TestCuVSGaps.java:155-196``; deletion
    visibility, ``TestCuVSDeletedDocuments.java:69-132``) and the persisted
    IVF lifecycle (append / skew-triggered re-train — the vector analog of
    mergeOneField's fast/rebuild dispatch)."""

    QV = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]

    def test_filtered_cosine_equals_prefiltered_scan(self, spark, emb):
        flt = F.col("label") % 2 == 0
        got = [(r["id"], r["score"])
               for r in S.cosine_topk(emb, self.QV, 10, filter_cond=flt).collect()]
        exp = [(r["id"], r["score"])
               for r in S.cosine_topk(emb.where(flt), self.QV, 10).collect()]
        assert got == exp and len(got) == 10
        # and the filter actually changes the result set vs unfiltered
        unf = [r["id"] for r in S.cosine_topk(emb, self.QV, 10).collect()]
        assert [i for i, _ in got] != unf

    def test_deleted_vectors_never_returned_scores_stable(self, spark, emb):
        base = S.cosine_topk(emb, self.QV, 10).collect()
        victim = int(base[0]["id"])
        dl = spark.createDataFrame([(victim,)], "vec_id long")
        got = S.cosine_topk(emb, self.QV, 10, deletes=dl).collect()
        got_ids = [int(r["id"]) for r in got]
        assert victim not in got_ids
        # survivors keep their exact scores and relative order
        survivors = [(int(r["id"]), r["score"]) for r in base[1:]]
        assert [(int(r["id"]), r["score"]) for r in got[:9]] == survivors

    def test_ivf_search_filter_and_deletes(self, spark, emb):
        cents = S.ivf_train(emb, n_centroids=8, iters=2)
        flt = F.col("label") <= 5
        got = [(r["id"], r["score"]) for r in S.ivf_search(
            emb, cents, self.QV, 10, nprobe=8, filter_cond=flt).collect()]
        exp = [(r["id"], r["score"])
               for r in S.cosine_topk(emb.where(flt), self.QV, 10).collect()]
        assert got == exp  # nprobe=C degrades to exact → equality holds
        victim = got[0][0]
        dl = spark.createDataFrame([(victim,)], "vec_id long")
        got_d = [r["id"] for r in S.ivf_search(
            emb, cents, self.QV, 10, nprobe=8, filter_cond=flt, deletes=dl
        ).collect()]
        assert victim not in got_d

    def test_probe_search_accept_and_deletes(self, spark, emb, tmp_path):
        d = str(tmp_path / "ivf")
        S.ivf_build(emb, d, n_centroids=8, iters=2)
        full = S.ivf_probe_search(spark, d, self.QV, 10, nprobe=8).collect()
        victim = int(full[0]["id"])
        accept = emb.where(F.col("label") % 2 == 0).select("vec_id")
        got = S.ivf_probe_search(
            spark, d, self.QV, 10, nprobe=8, accept=accept,
            deletes=spark.createDataFrame([(victim,)], "id long"),
        ).collect()
        accept_ids = {int(r["vec_id"]) for r in accept.collect()}
        assert all(int(r["id"]) in accept_ids for r in got)
        assert victim not in {int(r["id"]) for r in got}
        # equality with the exact filtered scan (nprobe=C → exact)
        exp = S.cosine_topk(
            emb.where((F.col("label") % 2 == 0) & (F.col("vec_id") != victim)),
            self.QV, 10,
        ).collect()
        assert [(int(r["id"]), r["score"]) for r in got] == [
            (int(r["id"]), r["score"]) for r in exp
        ]

    def test_exact_verifier_guard_trips(self, spark, emb):
        with pytest.raises(ValueError, match="embedding_lsh_pairs"):
            S.embedding_neardup_pairs(emb, threshold=0.4, max_rows=10)

    def test_ivf_append_equals_rebuild_same_codebook(self, spark, emb, tmp_path):
        """append(new batch) + probe == rebuild-from-scratch over the full
        corpus UNDER THE SAME CODEBOOK + probe (the M2 fast-path invariant:
        incremental layout == batch layout)."""
        d_inc = str(tmp_path / "ivf_inc")
        d_full = str(tmp_path / "ivf_full")
        first = emb.where(F.col("vec_id") < 250)
        second = emb.where(F.col("vec_id") >= 250)
        S.ivf_build(first, d_inc, n_centroids=8, iters=2)
        S.ivf_append(spark, second, d_inc)
        cents = spark.read.parquet(f"{d_inc}/centroids")
        S.ivf_build(emb, d_full, centroids=cents)
        for nprobe in (2, 8):
            a = [(int(r["id"]), r["score"]) for r in
                 S.ivf_probe_search(spark, d_inc, self.QV, 10, nprobe=nprobe).collect()]
            b = [(int(r["id"]), r["score"]) for r in
                 S.ivf_probe_search(spark, d_full, self.QV, 10, nprobe=nprobe).collect()]
            assert a == b and len(a) == 10

    def test_ivf_compact_retrains_on_skew(self, spark, tmp_path):
        """A drifted append (all new vectors land in one list) trips the skew
        bound; after re-train the skew drops and search still answers exactly
        (nprobe=C) over all vectors — old AND appended."""
        d = str(tmp_path / "ivf_skew")
        rng = np.random.RandomState(3)
        base = [(i, [float(x) for x in rng.randn(16)]) for i in range(64)]
        e0 = spark.createDataFrame(base, "vec_id long, embedding array<float>")
        S.ivf_build(e0, d, n_centroids=4, iters=2)
        assert S.ivf_compact(spark, d, skew_bound=3.0) is False  # healthy
        drift = [(1000 + i, [float(x + 25.0) for x in rng.randn(16)])
                 for i in range(400)]
        e1 = spark.createDataFrame(drift, "vec_id long, embedding array<float>")
        S.ivf_append(spark, e1, d)
        skew_before = S.ivf_list_stats(spark, d)["skew"]
        assert skew_before > 3.0  # 400/464 rows in one of 4 lists
        assert S.ivf_compact(spark, d, skew_bound=3.0) is True
        st = S.ivf_list_stats(spark, d)
        assert st["skew"] < skew_before
        assert sum(st["counts"].values()) == 464  # no vector lost
        qv = [1.0] + [0.0] * 15
        got = {int(r["id"]) for r in
               S.ivf_probe_search(spark, d, qv, 5, nprobe=len(st["counts"])).collect()}
        exact = {int(r["id"]) for r in S.cosine_topk(
            spark.createDataFrame(base + drift, "vec_id long, embedding array<float>"),
            qv, 5).collect()}
        assert got == exact


class TestDecontam:
    """Benchmark decontamination: engine==DuckDB parity on the test corpus,
    plus planted-contamination semantics the oracle can't see."""

    def test_report_matches_duckdb(self, spark, docs):
        import duckdb

        from cuvs_lucene_spark.pipeline import decontam as DC

        bench = docs.where(F.col("doc_id") % 97 == 0)
        corpus = docs.where(F.col("doc_id") % 97 != 0)
        got = {
            (r["doc_id"], r["n_hit"], r["n_windows"], round(r["contam_frac"], 6))
            for r in DC.contamination_report(corpus, bench, n=3).collect()
        }
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'"
        )
        want = {
            (r[0], r[1], r[2], round(r[3], 6))
            for r in con.sql(
                DC.contamination_report_sql("documents", "doc_id % 97 = 0", n=3)
            ).fetchall()
        }
        assert got == want and len(got) > 0

    def test_planted_contamination_dropped(self, spark):
        from cuvs_lucene_spark.pipeline import decontam as DC

        bench = spark.createDataFrame(
            [(0, "what is the capital of france paris obviously")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # verbatim 8-gram from the benchmark -> contaminated
                (10, "quiz leak: what is the capital of france paris obviously yes"),
                # shares words but no 8-gram window -> clean
                (11, "paris france capital the of is what obviously reordered"),
                (12, "entirely unrelated text about posting lists and bm25"),
                (13, None),
            ],
            "doc_id long, text string",
        )
        rep = {r["doc_id"]: r["n_hit"]
               for r in DC.contamination_report(corpus, bench, n=8).collect()}
        assert 10 in rep and rep[10] >= 1
        assert 11 not in rep and 12 not in rep and 13 not in rep

        kept = {r["doc_id"]
                for r in DC.decontaminate(corpus, bench, n=8).collect()}
        assert kept == {11, 12, 13}
        # threshold: allow up to the planted doc's hit count -> nothing dropped
        kept_all = {r["doc_id"] for r in DC.decontaminate(
            corpus, bench, n=8, max_hits=rep[10]).collect()}
        assert kept_all == {10, 11, 12, 13}


class TestPII:
    """PII scrub: Java-regex (Spark) vs RE2 (DuckDB) parity on adversarial
    strings, plus count/redaction semantics."""

    CASES = [
        (0, "mail me at a.b+c_d%e@sub.example.co.uk or root@x.io today"),
        (1, "phones 555-123-4567 and 555.123.4567 but not 55-123-4567"),
        (2, "ip 192.168.0.1 then 10.0.0.255, and 555-123-4567 mixed"),
        (3, "ssn 123-45-6789 is not a phone; 123-456-7890 is"),
        (4, "no pii here just words and numbers 12345 6789"),
        (5, None),
        (6, ""),
        (7, "edge:999.999.999.999 email@@double.com x@y.z a@b.cd"),
        (8, "adjacent 1.2.3.4 5.6.7.8 emails a@b.com c@d.org"),
    ]

    def _spark_rows(self, spark):
        from cuvs_lucene_spark.pipeline import pii as P

        df = spark.createDataFrame(self.CASES, "doc_id long, text string")
        out = P.redact_pii(P.with_pii_counts(df), "text", "redacted")
        cols = ["doc_id", "pii_email", "pii_ipv4", "pii_ssn", "pii_phone",
                "pii_total", "redacted"]
        return sorted(tuple(r[c] for c in cols) for r in out.collect())

    def test_matches_duckdb_on_adversarial_strings(self, spark):
        import duckdb

        from cuvs_lucene_spark.pipeline import pii as P

        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", self.CASES)
        c = P.pii_counts_sql("text")
        want = sorted(
            tuple(r) for r in con.sql(f"""
SELECT doc_id, {c['pii_email']} AS pii_email, {c['pii_ipv4']} AS pii_ipv4,
       {c['pii_ssn']} AS pii_ssn, {c['pii_phone']} AS pii_phone,
       {c['pii_total']} AS pii_total, {P.redact_sql('text')} AS redacted
FROM t""").fetchall()
        )
        got = self._spark_rows(spark)
        assert [g[:6] for g in got] == [w[:6] for w in want]  # counts
        assert got == want  # redacted text too

    def test_redaction_semantics(self, spark):
        from cuvs_lucene_spark.pipeline import pii as P

        df = spark.createDataFrame(
            [(0, "write a@b.com or call 555-123-4567 from 1.2.3.4 ssn 123-45-6789")],
            "doc_id long, text string",
        )
        r = P.redact_pii(P.with_pii_counts(df)).collect()[0]
        assert r["pii_email"] == r["pii_phone"] == r["pii_ipv4"] == r["pii_ssn"] == 1
        assert r["pii_total"] == 4
        assert r["text_redacted"] == (
            "write <EMAIL> or call <PHONE> from <IP> ssn <SSN>"
        )


class TestSampling:
    """Deterministic sampling/mixture: membership is a pure function of the
    id (rerun/append/repartition stable), mixture rates hit the target
    proportions, splits are exhaustive and stable."""

    def test_membership_stable_under_repartition_and_append(self, spark):
        from cuvs_lucene_spark.pipeline import sampling as SP

        base = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"] for r in SP.deterministic_sample(base, 0.3).collect()}
        b = {r["doc_id"] for r in
             SP.deterministic_sample(base.repartition(13), 0.3).collect()}
        assert a == b
        grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
        c = {r["doc_id"] for r in SP.deterministic_sample(grown, 0.3).collect()}
        assert {x for x in c if x < 2000} == a  # old docs keep their fate
        assert abs(len(a) / 2000 - 0.3) < 0.05  # rate roughly honored

    def test_mixture_rates_rebalance(self, spark):
        from cuvs_lucene_spark.pipeline import sampling as SP

        rows = ([(i, "web") for i in range(900)]
                + [(i + 1000, "code") for i in range(90)]
                + [(i + 2000, "books") for i in range(10)])
        docs = spark.createDataFrame(rows, "doc_id long, source string")
        # target 50/30/20 -> books (10 docs, weight .2) binds: total = 50
        rates = SP.mixture_rates(docs, {"web": 5, "code": 3, "books": 2})
        assert rates["books"] == 1.0
        assert abs(rates["web"] - 25 / 900) < 1e-9
        assert abs(rates["code"] - 15 / 90) < 1e-9
        # explicit total caps below availability
        r2 = SP.mixture_rates(docs, {"web": 1, "code": 1}, total_target=100)
        assert abs(r2["web"] - 50 / 900) < 1e-9 and abs(r2["code"] - 50 / 90) < 1e-9
        sampled = SP.sample_mixture(docs, {"web": 5, "code": 3, "books": 2})
        by = {r["source"]: r["n"] for r in
              sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert by.get("books") == 10  # binding stratum kept whole
        with pytest.raises(ValueError):
            SP.mixture_rates(docs, {"web": 1, "absent": 1})

    def test_split_exhaustive_and_sized(self, spark):
        from cuvs_lucene_spark.pipeline import sampling as SP

        docs = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
        out = SP.with_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
        by = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert set(by) == {"train", "val", "test"} and sum(by.values()) == 5000
        assert abs(by["train"] / 5000 - 0.8) < 0.03
        # same doc -> same split when the corpus doubles
        small = {r["doc_id"]: r["split"] for r in out.collect()}
        big = SP.with_split(
            spark.range(0, 10000).withColumnRenamed("id", "doc_id"),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )
        for r in big.collect():
            if r["doc_id"] in small:
                assert small[r["doc_id"]] == r["split"]


class TestRepetition:
    """Repetition signals on planted degenerate docs (the gate corpus has no
    newlines, so line-level signals are pinned here), plus DuckDB parity on
    multi-line text and the filter's drop semantics."""

    ROWS = [
        (0, "spam line\nspam line\nspam line\nreal content here"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "buy now buy now buy now buy now buy now"),
        (3, "one two three four five one two three four five"),
        (4, "short"),
        (5, None),
        (6, "  \n\t\n  "),  # whitespace-only lines -> 0 lines
    ]

    def test_signal_values(self, spark):
        from cuvs_lucene_spark.pipeline import textstats as TS

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        r = {x["doc_id"]: x for x in TS.with_repetition(df).collect()}
        assert r[0]["n_lines"] == 4 and abs(r[0]["frac_dup_lines"] - 0.5) < 1e-9
        assert r[1]["frac_dup_bigram"] == 0.0 and r[1]["frac_top_bigram"] > 0
        # "buy now" x5 + "now buy" x4 over 9 windows -> dup frac 7/9, top 5/9
        assert abs(r[2]["frac_dup_bigram"] - 7 / 9) < 1e-6
        assert abs(r[2]["frac_top_bigram"] - 5 / 9) < 1e-6
        # 10 tokens: 6 5-gram windows, "one two three four five" twice
        assert abs(r[3]["frac_dup_5gram"] - 1 / 6) < 1e-6
        assert r[4]["frac_dup_bigram"] == 0.0  # no windows
        assert r[5]["n_lines"] == 0 and r[5]["frac_dup_lines"] == 0.0
        assert r[6]["n_lines"] == 0

    def test_matches_duckdb_multiline(self, spark):
        import duckdb

        from cuvs_lucene_spark.pipeline import textstats as TS

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        cols = ["doc_id", "n_lines", "frac_dup_lines", "frac_dup_bigram",
                "frac_top_bigram", "frac_dup_5gram"]
        got = sorted(tuple(r[c] for c in cols)
                     for r in TS.with_repetition(df).collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", self.ROWS)
        want = sorted(tuple(r) for r in
                      con.sql(TS.repetition_report_sql("t")).fetchall())
        assert got == want

    def test_filter_drops_degenerate(self, spark):
        from cuvs_lucene_spark.pipeline import textstats as TS

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        kept = {r["doc_id"] for r in TS.repetition_filter(
            df, max_dup_lines=0.3, max_top_bigram=0.2, max_dup_5gram=0.15,
        ).collect()}
        assert 0 not in kept and 2 not in kept and 3 not in kept
        assert {1, 4, 5, 6} <= kept


class TestRepetitionRandomized:
    def test_random_corpora_match_duckdb(self, spark):
        """Randomized parity: repetition signals over random multi-line,
        repetitive corpora must match the DuckDB twin exactly (3 seeds)."""
        import duckdb
        import random

        from cuvs_lucene_spark.pipeline import textstats as TS

        vocab = ["alpha", "beta", "gamma", "delta", "buy", "now", "spam",
                 "x1", "y2", ""]
        for seed in (7, 42, 1337):
            rng = random.Random(seed)
            rows = []
            for i in range(40):
                lines = []
                for _ in range(rng.randint(0, 5)):
                    n = rng.randint(0, 12)
                    words = [rng.choice(vocab) for _ in range(n)]
                    if rng.random() < 0.4 and lines:
                        lines.append(rng.choice(lines))  # duplicate a line
                    else:
                        lines.append(" ".join(words))
                txt = "\n".join(lines) if lines else (None if i % 7 == 0 else "")
                rows.append((i, txt))
            df = spark.createDataFrame(rows, "doc_id long, text string")
            cols = ["doc_id", "n_lines", "frac_dup_lines", "frac_dup_bigram",
                    "frac_top_bigram", "frac_dup_5gram"]
            got = sorted(tuple(r[c] for c in cols)
                         for r in TS.with_repetition(df).collect())
            con = duckdb.connect()
            con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
            con.executemany("INSERT INTO t VALUES (?, ?)", rows)
            want = sorted(tuple(r) for r in
                          con.sql(TS.repetition_report_sql("t")).fetchall())
            assert got == want, f"seed {seed}"


class TestPacking:
    def test_placement_invariants_and_partition_independence(self, spark):
        from cuvs_lucene_spark.pipeline import packing as PK

        rows = [(i, " ".join(["tok"] * (i * 37 % 90))) for i in range(60)]
        rows[7] = (7, None)
        rows[13] = (13, "")
        df = spark.createDataFrame(rows, "doc_id long, text string")
        L = 64
        outs = []
        for p in (1, 3, 16):
            out = sorted(
                tuple(r) for r in PK.pack_sequences(
                    df, L, partitions=p
                ).collect()
            )
            outs.append(out)
        assert outs[0] == outs[1] == outs[2]  # parallelism-independent
        got = outs[0]
        # contiguity: each doc starts exactly where the previous ended
        run = 0
        for (_id, n, tok_start, seq_s, seq_e, off) in got:
            assert tok_start == run
            run += n
            assert seq_s == tok_start // L and off == tok_start % L
            want_end = (tok_start + n - 1) // L if n > 0 else seq_s
            assert seq_e == want_end
            assert (seq_e > seq_s) == (n > 0 and off + n > L)
        assert got[7][1] == 0 and got[13][1] == 0  # NULL/empty zero-width

    def test_matches_duckdb(self, spark):
        import duckdb

        from cuvs_lucene_spark.pipeline import packing as PK

        rows = [(i, " ".join(["w%d" % (i + j) for j in range(i % 23)]))
                for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in PK.pack_sequences(df, 32).collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(tuple(r) for r in
                      con.sql(PK.pack_sequences_sql("t", 32)).fetchall())
        assert got == want
        with pytest.raises(ValueError):
            PK.pack_sequences(df, 0)

    def test_duckdb_twin_columns_are_bigint(self):
        """The twin's placement columns must type like the engine's longs: a
        windowed sum(BIGINT) is HUGEINT in DuckDB, which pandas receives as
        float64 — the oracle would then differ from the engine in dtype."""
        import duckdb

        from cuvs_lucene_spark.pipeline import packing as PK

        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO t VALUES (?, ?)", [(1, "a b c"), (2, None), (3, "d")]
        )
        rel = con.sql(PK.pack_sequences_sql("t", 2))
        types = dict(zip(rel.columns, (str(t) for t in rel.types)))
        for c in ("n_tokens", "tok_start", "seq_start", "seq_end", "offset"):
            assert types[c] == "BIGINT", (c, types[c])


class TestIVFPQAppend:
    QV = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]

    def test_append_then_degenerate_search_is_exact(self, spark, emb, tmp_path):
        """ivfpq_append lifecycle (mergeOneField fast-path analog): build on
        the low-id half, append the high-id half encoded with the PERSISTED
        codebooks, then the degenerate-exact config over the appended index
        must equal exact cosine over the FULL corpus — i.e. appended rows
        are fully searchable and their codes/cids match the trained
        quantizers."""
        cut = int(emb.agg(F.expr("percentile(vec_id, 0.5)")).collect()[0][0])
        d = str(tmp_path / "ivfpq_app")
        S.ivfpq_build(
            emb.where(F.col("vec_id") < cut), d, n_centroids=4, m=8, ks=16
        )
        S.ivfpq_append(spark, emb.where(F.col("vec_id") >= cut), d)
        exact = [
            (r["id"], r["score"])
            for r in S.cosine_topk(emb, self.QV, 10).collect()
        ]
        got = [
            (r["id"], r["score"])
            for r in S.ivfpq_search(
                spark, d, self.QV, k=10, nprobe=4, refine=10**6
            ).collect()
        ]
        assert got == exact
        # list stats work unchanged over the appended layout
        st = S.ivf_list_stats(spark, d)
        assert sum(st["counts"].values()) == emb.count()

    def test_append_dim_guard(self, spark, emb, tmp_path):
        d = str(tmp_path / "ivfpq_badapp")
        S.ivfpq_build(
            emb.where(F.col("vec_id") < 64), d, n_centroids=2, m=8, ks=8
        )
        bad = spark.createDataFrame(
            [(10**6, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="dim"):
            S.ivfpq_append(spark, bad, d)


class TestIVFPQAppendGuards:
    def test_in_batch_duplicates_rejected(self, spark, emb, tmp_path):
        d = str(tmp_path / "pq_dupapp")
        S.ivfpq_build(
            emb.where(F.col("vec_id") < 64), d, n_centroids=2, m=8, ks=8
        )
        dup = spark.createDataFrame(
            [(10**6, [0.1] * 64), (10**6, [0.2] * 64)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="duplicate"):
            S.ivfpq_append(spark, dup, d)

    def test_stored_collision_rejected(self, spark, emb, tmp_path):
        d = str(tmp_path / "pq_collapp")
        S.ivfpq_build(
            emb.where(F.col("vec_id") < 64), d, n_centroids=2, m=8, ks=8
        )
        with pytest.raises(ValueError, match="collide"):
            S.ivfpq_append(spark, emb.where(F.col("vec_id") < 4), d)
