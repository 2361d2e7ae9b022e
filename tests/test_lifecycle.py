"""Lifecycle tests: multi-segment build, deletes, merge/compaction, resume.

The pytest analog of the reference's lifecycle suites — multi-segment merge
(``TestMerge.java:105-214``), deletion semantics
(``TestCuVSDeletedDocuments.java:69-132,213-255``), and the finish()
idempotence / resumability guard (``CuVS2510GPUVectorsWriter.java:521-524``).
"""

import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.operators.build import build_index, build_segment
from cuvs_lucene_spark.operators.deletes import (
    delete_docs,
    has_deletes,
    read_delete_keys,
)
from cuvs_lucene_spark.operators.merge import compact
from cuvs_lucene_spark.query import IndexReader, search
from cuvs_lucene_spark.sources.catalog import IndexCatalog

QUERIES = ["world school", "the", "student country help", "w00350"]


def _topk(spark, idx, q, k=10, prune=False):
    return [
        (r["doc_id"], round(float(r["score"]), 6))
        for r in search(spark, idx, q, k=k, prune=prune).collect()
    ]


@pytest.fixture(scope="module")
def split_dfs(spark, tiny_df):
    """tiny corpus split into two conv_id ranges (sorted halves, so segment-
    local docID assignment with doc_base reproduces the global order)."""
    cut = "conv-00000100"
    return (
        tiny_df.where(F.col("conv_id") < cut),
        tiny_df.where(F.col("conv_id") >= cut),
    )


@pytest.fixture(scope="module")
def two_seg_index(spark, split_dfs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "twoseg")
    build_segment(spark, split_dfs[0], d, 0, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
    build_segment(spark, split_dfs[1], d, 1, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
    return d


class TestMultiSegment:
    def test_two_segments_committed(self, spark, two_seg_index):
        cat = IndexCatalog(two_seg_index)
        assert cat.committed_segment_ids() == {0, 1}

    def test_equals_single_segment_build(self, spark, two_seg_index, tiny_index):
        """Incremental 2-segment build ≡ one-shot build: same global stats and
        rank+score-identical results (the TestMerge count/value/order gate)."""
        rd2, rd1 = IndexReader(spark, two_seg_index), IndexReader(spark, tiny_index)
        assert (rd2.n_docs, rd2.sum_dl) == (rd1.n_docs, rd1.sum_dl)
        for q in QUERIES:
            assert _topk(spark, two_seg_index, q) == _topk(spark, tiny_index, q)

    def test_segment_build_idempotent(self, spark, split_dfs, two_seg_index):
        meta = build_segment(spark, split_dfs[0], two_seg_index, 0, buckets=8)
        assert meta["id"] == 0  # no-op re-commit returned the committed entry
        assert IndexCatalog(two_seg_index).read_manifest()["version"] >= 2

    def test_table_df_cache_hits_within_and_invalidates_across_commits(
        self, spark, split_dfs, tmp_path_factory
    ):
        """The driver-side DataFrame cache serves the SAME logical plan for
        repeated reads of one committed snapshot, and any commit (here: an
        appended segment) keys a fresh entry with the new file set."""
        d = str(tmp_path_factory.mktemp("idx") / "dfcache")
        build_segment(spark, split_dfs[0], d, 0, buckets=8)
        cat = IndexCatalog(d)
        a1, a2 = cat.read_postings(spark), cat.read_postings(spark)
        assert a1 is a2  # one snapshot → one cached plan (no re-listing)
        n1 = cat.read_doc_dim(spark).count()
        build_segment(spark, split_dfs[1], d, 1, buckets=8)
        b = cat.read_postings(spark)
        assert b is not a1  # commit bumped the snapshot key
        n2 = cat.read_doc_dim(spark).count()
        assert n2 > n1  # and the fresh plan sees the appended segment

    def test_compact_no_deletes_preserves_results(
        self, spark, two_seg_index, tmp_path_factory
    ):
        import shutil

        d = str(tmp_path_factory.mktemp("idx") / "compacted")
        shutil.copytree(two_seg_index, d)
        before = {q: _topk(spark, d, q) for q in QUERIES}
        meta = compact(spark, d)
        assert meta is not None and meta["compacted_from"] == [0, 1]
        assert IndexCatalog(d).committed_segment_ids() == {meta["id"]}
        for q in QUERIES:
            assert _topk(spark, d, q) == before[q], q
            assert _topk(spark, d, q, prune=True) == before[q], q


class TestDeletes:
    @pytest.fixture()
    def del_index(self, spark, tiny_df, tmp_path_factory):
        import shutil

        src = str(tmp_path_factory.mktemp("idx") / "delsrc")
        build_index(spark, tiny_df, src, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        return src

    def test_deleted_never_returned_and_scores_stable(self, spark, tiny_df, del_index):
        before = _topk(spark, del_index, "world school", k=5)
        victims = [d for d, _ in before[:2]]
        rd = IndexReader(spark, del_index)
        keys = (
            rd.cat.read_doc_dim(spark)
            .where(F.col("doc_id").isin(victims))
            .select("conv_id", "turn_idx")
        )
        assert delete_docs(spark, del_index, keys) == 2
        # one tombstone read per snapshot, shared by every query of it
        tomb = read_delete_keys(spark, del_index)
        assert tomb is read_delete_keys(spark, del_index)
        assert tomb.count() == 2
        after = _topk(spark, del_index, "world school", k=5, prune=False)
        after_p = _topk(spark, del_index, "world school", k=5, prune=True)
        assert not {d for d, _ in after} & set(victims)
        assert after == after_p
        # Lucene pre-merge semantics: stats unchanged, so surviving docs keep
        # their exact scores and relative order
        survivors = [(d, s) for d, s in before if d not in victims]
        assert after[: len(survivors)] == survivors

    def test_zombie_tombstone_file_invisible_and_gcable(
        self, spark, tiny_df, del_index
    ):
        """The deletes table is manifest-pinned (`delete_files` committed in
        the same atomic pointer swap as the segments): a part file written by
        a dead/zombie delete attempt — present on disk but never committed —
        must not mask any doc, must be reported as an orphan by
        check_delete_files, and must be reclaimed by gc_orphan_deletes. Same
        commit shape as the segment tables' files.json (sources/catalog.py)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from cuvs_lucene_spark.operators.deletes import (
            check_delete_files,
            deletes_path,
            gc_orphan_deletes,
        )
        from cuvs_lucene_spark.sources import fs as xfs

        before = _topk(spark, del_index, "world school", k=5)
        victim, survivor = before[0][0], before[1][0]
        rd = IndexReader(spark, del_index)
        dd = rd.cat.read_doc_dim(spark)
        keys = dd.where(F.col("doc_id") == victim).select("conv_id", "turn_idx")
        assert delete_docs(spark, del_index, keys) == 1

        # zombie attempt: a tombstone for `survivor`, on disk, NOT committed
        srow = dd.where(F.col("doc_id") == survivor).select(
            "conv_id", "turn_idx"
        ).collect()[0]
        zdir = xfs.join(deletes_path(del_index), "batch-zombie")
        xfs.mkdirs(zdir)
        pq.write_table(
            pa.table(
                {
                    "conv_id": [srow["conv_id"]],
                    "turn_idx": pa.array([srow["turn_idx"]], type=pa.int32()),
                    "deleted_at": pa.array([0], type=pa.timestamp("us")),
                }
            ),
            xfs.join(zdir, "part-zombie.parquet"),
        )

        after = {d for d, _ in _topk(spark, del_index, "world school", k=5)}
        assert victim not in after  # committed tombstone applies
        assert survivor in after  # zombie tombstone is invisible

        rep = check_delete_files(del_index)
        assert rep["files"] >= 1
        assert rep["orphans"] == ["batch-zombie/part-zombie.parquet"]
        assert gc_orphan_deletes(del_index) == ["batch-zombie/part-zombie.parquet"]
        assert check_delete_files(del_index)["orphans"] == []

        # combined CheckIndex analog covers manifest + segments + tombstones
        full = IndexCatalog(del_index).check_index()
        assert full["deletes"]["files"] >= 1 and full["segments"]

        # truncation of a COMMITTED tombstone file is caught loudly
        committed = xfs.join(
            deletes_path(del_index),
            IndexCatalog(del_index).delete_files()[0]["path"],
        )
        data = xfs.read_bytes(committed)
        xfs.write_bytes_atomic(committed, data[: len(data) // 2])
        with pytest.raises(IOError, match="size mismatch"):
            check_delete_files(del_index)

    def test_compact_purges_and_matches_filtered_rebuild(
        self, spark, tiny_df, del_index, tmp_path_factory
    ):
        rd = IndexReader(spark, del_index)
        # delete one entire conversation
        keys = (
            rd.cat.read_doc_dim(spark)
            .where(F.col("conv_id") == "conv-00000003")
            .select("conv_id", "turn_idx")
        )
        n = delete_docs(spark, del_index, keys)
        assert n > 0
        meta = compact(spark, del_index)
        assert meta is not None and not has_deletes(del_index)

        ref = str(tmp_path_factory.mktemp("idx") / "filtered")
        build_index(
            spark,
            tiny_df.where(F.col("conv_id") != "conv-00000003"),
            ref, buckets=8, salt_buckets=4, hot_df_ratio=0.10,
        )
        rd_c, rd_f = IndexReader(spark, del_index), IndexReader(spark, ref)
        assert (rd_c.n_docs, rd_c.sum_dl) == (rd_f.n_docs, rd_f.sum_dl)
        for q in QUERIES:
            # docIDs differ between the two indexes (stable vs re-assigned) —
            # compare by (conv_id, turn_idx) identity and score; tie-break
            # order still agrees because both docID assignments are monotone
            # in (conv_id, turn_idx)
            def to_keys(idx, pairs):
                m = {
                    r["doc_id"]: (r["conv_id"], r["turn_idx"])
                    for r in IndexReader(spark, idx).cat.read_doc_dim(spark)
                    .where(F.col("doc_id").isin([d for d, _ in pairs]))
                    .collect()
                }
                return [(m[d], s) for d, s in pairs]

            assert to_keys(del_index, _topk(spark, del_index, q)) == to_keys(
                ref, _topk(spark, ref, q)
            ), q


class TestBucketResume:
    """SURVEY §5.2.4: kill after bucket group j → resume → identical index."""

    def _dict_snapshot(self, spark, idx):
        cat = IndexCatalog(idx)
        return sorted(
            (r["term"], int(r["df"]), int(r["cf"]), int(r["n_blocks"]))
            for r in cat.read_dictionary(spark).collect()
        )

    def test_kill_after_group_then_resume_identical(
        self, spark, tiny_df, tiny_index, tmp_path_factory
    ):
        d = str(tmp_path_factory.mktemp("idx") / "resume")
        with pytest.raises(RuntimeError, match="injected failure"):
            build_segment(
                spark, tiny_df, d, 0, buckets=8, salt_buckets=4,
                hot_df_ratio=0.10, bucket_groups=4, _fail_after_groups=2,
            )
        cat = IndexCatalog(d)
        assert cat.committed_segment_ids() == set()  # no manifest yet
        done_before = {
            int(r["bucket"])
            for r in cat.read_lineage(spark)
            .where(F.col("status") == "committed")
            .collect()
        }
        assert 0 < len(done_before) < 8  # partial progress persisted

        # resume: must skip committed buckets and finish the segment
        build_segment(
            spark, tiny_df, d, 0, buckets=8, salt_buckets=4,
            hot_df_ratio=0.10, bucket_groups=4,
        )
        assert IndexCatalog(d).committed_segment_ids() == {0}
        # committed buckets were not rewritten: lineage has exactly one
        # 'committed' row per non-skipped bucket and one per skipped bucket
        rows = (
            IndexCatalog(d).read_lineage(spark)
            .where(F.col("status") == "committed")
            .groupBy("bucket").count().collect()
        )
        assert all(int(r["count"]) == 1 for r in rows)
        assert {int(r["bucket"]) for r in rows} == set(range(8))

        # identical to an uninterrupted build: dictionary + query results
        assert self._dict_snapshot(spark, d) == self._dict_snapshot(spark, tiny_index)
        for q in QUERIES:
            assert _topk(spark, d, q) == _topk(spark, tiny_index, q)

    def test_grouped_uninterrupted_equals_single_write(
        self, spark, tiny_df, tiny_index, tmp_path_factory
    ):
        d = str(tmp_path_factory.mktemp("idx") / "grouped")
        build_segment(
            spark, tiny_df, d, 0, buckets=8, salt_buckets=4,
            hot_df_ratio=0.10, bucket_groups=3,
        )
        assert self._dict_snapshot(spark, d) == self._dict_snapshot(spark, tiny_index)
        for q in QUERIES:
            assert _topk(spark, d, q) == _topk(spark, tiny_index, q)


class TestReadValidation:
    """Open-time CorruptIndexException analog (reference
    ``CuVS2510GPUVectorsReader.java:143-166,195-208``)."""

    def _fresh(self, spark, tiny_df, tmp_path_factory) -> str:
        d = str(tmp_path_factory.mktemp("idx") / "val")
        build_index(spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        return d

    def test_clean_index_opens(self, spark, tiny_index):
        IndexReader(spark, tiny_index)  # no raise

    def test_format_version_mismatch_raises(self, spark, tiny_df, tmp_path_factory):
        import json
        import os

        from cuvs_lucene_spark.sources.catalog import CorruptIndexError

        d = self._fresh(spark, tiny_df, tmp_path_factory)
        p = os.path.join(d, "manifest.json")
        m = json.load(open(p))
        m["format_version"] = 999
        json.dump(m, open(p, "w"))
        with pytest.raises(CorruptIndexError, match="format version"):
            IndexReader(spark, d)

    def test_codec_mismatch_raises(self, spark, tiny_df, tmp_path_factory):
        import json
        import os

        from cuvs_lucene_spark.sources.catalog import CorruptIndexError

        d = self._fresh(spark, tiny_df, tmp_path_factory)
        p = os.path.join(d, "manifest.json")
        m = json.load(open(p))
        m["codec"] = "vbyte-v0"
        json.dump(m, open(p, "w"))
        with pytest.raises(CorruptIndexError, match="codec"):
            IndexReader(spark, d)

    def test_missing_table_raises(self, spark, tiny_df, tmp_path_factory):
        import shutil

        from cuvs_lucene_spark.sources.catalog import CorruptIndexError

        d = self._fresh(spark, tiny_df, tmp_path_factory)
        shutil.rmtree(IndexCatalog(d).dictionary_path(0))
        with pytest.raises(CorruptIndexError, match="missing dictionary"):
            IndexReader(spark, d)

    def test_stray_bucket_dir_raises(self, spark, tiny_df, tmp_path_factory):
        import os

        from cuvs_lucene_spark.sources.catalog import CorruptIndexError

        d = self._fresh(spark, tiny_df, tmp_path_factory)
        os.makedirs(os.path.join(IndexCatalog(d).postings_path(0), "bucket=99"))
        with pytest.raises(CorruptIndexError, match="outside range"):
            IndexReader(spark, d)


class TestCommittedFileList:
    """Object-store commit protocol: the manifest commit pins the exact data
    file set (files.json, written before the pointer swap); readers consume
    ONLY the enumerated list, so orphan part-files left by dead/zombie
    attempts — the rename-isn't-atomic hazard on S3-class stores — are
    invisible. Commit-shape analog of the reference's finish() end-marker
    (``CuVS2510GPUVectorsWriter.java:521-537``)."""

    def test_orphan_part_files_ignored_at_read(
        self, spark, tiny_df, tmp_path_factory
    ):
        import glob
        import os
        import shutil

        d = str(tmp_path_factory.mktemp("idx") / "orphan")
        build_index(spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        cat = IndexCatalog(d)
        before_dd = cat.read_doc_dim(spark).count()
        before_post = cat.read_postings(spark).count()
        before_dict = cat.read_dictionary(spark).count()
        before_q = _topk(spark, d, "world school")

        # simulate a zombie attempt: duplicate data files under new names in
        # every table dir — a dir-listing reader would double-count all three
        dd_part = sorted(glob.glob(os.path.join(cat.doc_dim_path(0), "*.parquet")))[0]
        shutil.copy(dd_part, os.path.join(cat.doc_dim_path(0), "part-99999.parquet"))
        post_part = sorted(
            glob.glob(os.path.join(cat.postings_path(0), "bucket=*", "*.parquet"))
        )[0]
        shutil.copy(post_part, os.path.join(os.path.dirname(post_part), "orphan.parquet"))
        dict_part = sorted(
            glob.glob(os.path.join(cat.dictionary_path(0), "*.parquet"))
        )[0]
        shutil.copy(dict_part, os.path.join(cat.dictionary_path(0), "orphan.parquet"))

        IndexReader(spark, d)  # still opens clean
        assert cat.read_doc_dim(spark).count() == before_dd
        assert cat.read_postings(spark).count() == before_post
        assert cat.read_dictionary(spark).count() == before_dict
        assert _topk(spark, d, "world school") == before_q

    def test_check_files_catches_truncation_and_reports_orphans(
        self, spark, tiny_df, tmp_path_factory
    ):
        """check_files (CheckIndex analog): clean index passes and counts
        every committed file; an unreferenced part-file is reported as an
        orphan (not an error); a truncated committed file raises."""
        import glob
        import os
        import shutil

        from cuvs_lucene_spark.sources.catalog import CorruptIndexError

        d = str(tmp_path_factory.mktemp("idx") / "checkf")
        build_index(spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        cat = IndexCatalog(d)
        rep = cat.check_files()
        assert rep[0]["files"] > 0 and rep[0]["bytes"] > 0
        assert rep[0]["orphans"] == []

        dd_part = sorted(glob.glob(os.path.join(cat.doc_dim_path(0), "*.parquet")))[0]
        shutil.copy(dd_part, os.path.join(cat.doc_dim_path(0), "orphan.parquet"))
        rep2 = cat.check_files()
        assert any("orphan.parquet" in o for o in rep2[0]["orphans"])

        with open(dd_part, "r+b") as f:
            f.truncate(os.path.getsize(dd_part) - 7)
        with pytest.raises(CorruptIndexError, match="size mismatch"):
            cat.check_files()

    def test_missing_file_list_fails_validation(
        self, spark, tiny_df, tmp_path_factory
    ):
        import os

        from cuvs_lucene_spark.sources.catalog import CorruptIndexError

        d = str(tmp_path_factory.mktemp("idx") / "nofiles")
        build_index(spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        os.remove(IndexCatalog(d).files_path(0))
        with pytest.raises(CorruptIndexError, match="file list"):
            IndexReader(spark, d)


class TestUriIndexDir:
    """index_dir given as a file:// URI — every byte of the index (Spark
    tables via the Hadoop FS layer, manifest/side-files via sources.fs) must
    route through the scheme, and results must be identical to a plain-path
    build. The local stand-in for hdfs://... and s3://... deployments."""

    @pytest.fixture(scope="class")
    def uri_index(self, spark, tiny_df, tmp_path_factory):
        d = "file://" + str(tmp_path_factory.mktemp("idx") / "uri")
        build_index(spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        return d

    def test_results_match_plain_path(self, spark, uri_index, tiny_index):
        for q in QUERIES:
            assert _topk(spark, uri_index, q) == _topk(spark, tiny_index, q)

    def test_validate_and_stats(self, spark, uri_index):
        rd = IndexReader(spark, uri_index)  # validate_for_read through the URI
        assert rd.n_docs > 0

    def test_delete_and_compact_through_uri(self, spark, tiny_df, uri_index):
        victims = tiny_df.select("conv_id", "turn_idx").orderBy(
            "conv_id", "turn_idx"
        ).limit(5)
        assert delete_docs(spark, uri_index, victims) == 5
        assert has_deletes(uri_index)
        gone = {
            (r["conv_id"], r["turn_idx"]) for r in victims.collect()
        }
        for r in search(spark, uri_index, "the", k=50).collect():
            assert (r["conv_id"], r["turn_idx"]) not in gone
        compact(spark, uri_index)
        assert not has_deletes(uri_index)
        for r in search(spark, uri_index, "the", k=50).collect():
            assert (r["conv_id"], r["turn_idx"]) not in gone


class TestTieredCompact:
    """Size-tiered merge policy: subset merges preserve results exactly,
    keep Σ total_rows invariant (docID high-water mark), and respect the
    global deletes table."""

    QS = ["world school", "student country help", "the"]

    @pytest.fixture()
    def four_seg_index(self, spark, tiny_df, tmp_path_factory):
        from cuvs_lucene_spark.operators.merge import tiered_compact  # noqa: F401

        d = str(tmp_path_factory.mktemp("idx") / "tiered")
        cuts = ["conv-00000050", "conv-00000100", "conv-00000150"]
        parts = [
            tiny_df.where(F.col("conv_id") < cuts[0]),
            tiny_df.where((F.col("conv_id") >= cuts[0]) & (F.col("conv_id") < cuts[1])),
            tiny_df.where((F.col("conv_id") >= cuts[1]) & (F.col("conv_id") < cuts[2])),
            tiny_df.where(F.col("conv_id") >= cuts[2]),
        ]
        for i, p in enumerate(parts):
            build_segment(spark, p, d, i, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        return d

    def test_subset_merge_preserves_results_and_counts(self, spark, four_seg_index):
        from cuvs_lucene_spark.operators.merge import tiered_compact
        from cuvs_lucene_spark.sources.catalog import IndexCatalog

        d = four_seg_index
        cat = IndexCatalog(d)
        before = {q: _topk(spark, d, q) for q in self.QS}
        total_before = cat.next_doc_base()

        meta = tiered_compact(spark, d, max_segments=2)
        assert meta is not None and len(meta["compacted_from"]) == 3

        segs = cat.read_manifest()["segments"]
        assert len(segs) == 2
        assert cat.next_doc_base() == total_before  # docID high-water kept
        for q in self.QS:
            assert _topk(spark, d, q) == before[q]

        # below the threshold → the policy declines
        assert tiered_compact(spark, d, max_segments=2) is None

    def test_subset_merge_keeps_deletes_for_unmerged(self, spark, four_seg_index):
        from cuvs_lucene_spark.operators.deletes import (
            delete_docs,
            deleted_doc_ids,
            has_deletes,
        )
        from cuvs_lucene_spark.operators.merge import tiered_compact

        d = four_seg_index
        # tombstone "world" hits spread across segments (search returns keys)
        victims = spark.createDataFrame(
            [
                (r["conv_id"], int(r["turn_idx"]))
                for r in search(spark, d, "world", k=12).collect()
            ],
            "conv_id string, turn_idx int",
        )
        n_del = delete_docs(spark, d, victims)
        assert n_del > 0
        deleted_ids = {
            r["doc_id"] for r in deleted_doc_ids(spark, d).collect()
        }

        # replicate the policy's victim choice to predict the purge count:
        # only tombstoned docs living in MERGED segments leave the stats
        # (Lucene post-merge semantics); unmerged segments keep counting
        # theirs until their own merge
        cat = IndexCatalog(d)
        segs = cat.read_manifest()["segments"]
        victim_segs = [
            s["id"]
            for s in sorted(segs, key=lambda s: (s["total_rows"], s["id"]))[:3]
        ]
        purged = (
            cat.read_doc_dim(spark, seg_ids=victim_segs)
            .where(F.col("doc_id").isin(list(deleted_ids)) & (F.col("dl") > 0))
            .count()
        )
        n_before = IndexReader(spark, d).n_docs

        meta = tiered_compact(spark, d, max_segments=2)
        assert meta is not None

        # subset merge must NOT clear the global tombstone table (unmerged
        # segments still hold deleted docs)...
        assert has_deletes(d)
        # ...stats drop by exactly the docs purged from the merged subset...
        assert IndexReader(spark, d).n_docs == n_before - purged
        # ...and tombstoned docs are never returned, merged or not
        for q in self.QS:
            got = {doc for doc, _s in _topk(spark, d, q)}
            assert not (got & deleted_ids)


class TestDocDimClusteringAndGC:
    def test_doc_dim_is_role_ts_clustered(self, spark, tiny_index):
        """The committed doc_dim is range-clustered by (role, ts): rows are
        sorted within each file, so parquet footer min/max stats prune
        filtered search's `_accepted_doc_ids` scan (role equality + ts
        ranges push down to file/row-group skipping at 10^11-doc scale)."""
        import glob
        import os

        import pyarrow.parquet as pq

        cat = IndexCatalog(tiny_index)
        parts = sorted(glob.glob(os.path.join(cat.doc_dim_path(0), "*.parquet")))
        assert parts
        for p in parts:
            t = pq.read_table(p, columns=["role", "ts"]).to_pandas()
            keys = list(zip(t["role"], t["ts"]))
            assert keys == sorted(keys)

    def test_filtered_search_on_clustered_doc_dim(self, spark, tiny_df, tiny_index):
        """Clustering is layout-only: filtered results equal a driver-side
        recomputation of the accepted doc set."""
        from cuvs_lucene_spark.query import _accepted_doc_ids

        rd = IndexReader(spark, tiny_index)
        cond = F.col("role") == "user"
        got = {r["doc_id"] for r in _accepted_doc_ids(rd, cond).collect()}
        want = {
            r["doc_id"]
            for r in rd.cat.read_doc_dim(spark).where(cond).select("doc_id").collect()
        }
        assert got == want and got
        res = search(spark, tiny_index, "world school", k=10, filter_cond=cond)
        roles = {r["doc_id"] for r in res.collect()}
        assert roles <= want

    def test_accepted_ids_cache_invalidated_by_rebuild(
        self, spark, tiny_df, tmp_path_factory
    ):
        """The accepted-id cache is keyed by snapshot identity: rebuilding
        the index at the same path must not serve the old snapshot's ids."""
        from cuvs_lucene_spark.query import _accepted_doc_ids
        from cuvs_lucene_spark.sources import fs

        d = str(tmp_path_factory.mktemp("idx") / "acccache")
        half = tiny_df.where(F.col("conv_id") < "conv-00000100")
        build_index(spark, half, d, buckets=4, salt_buckets=2, run_id="fixed")
        rd1 = IndexReader(spark, d)
        cond = F.col("role") == "user"
        n1 = _accepted_doc_ids(rd1, cond).count()
        fs.delete_dir(d)
        build_index(spark, tiny_df, d, buckets=4, salt_buckets=2, run_id="fixed")
        rd2 = IndexReader(spark, d)
        n2 = _accepted_doc_ids(rd2, cond).count()
        assert n2 > n1  # full corpus has strictly more accepted docs
        # repeated lookup hits the cache (same object back)
        assert _accepted_doc_ids(rd2, cond) is _accepted_doc_ids(rd2, cond)

    def test_gc_orphans_respects_grace_window(self, spark, tiny_df, tmp_path_factory):
        """gc_orphans (IndexFileDeleter analog): an orphan younger than the
        grace window is kept; with grace 0 it is deleted; committed files are
        never touched and the index still answers queries afterwards."""
        import glob
        import os
        import shutil

        d = str(tmp_path_factory.mktemp("idx") / "gc")
        build_index(spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
        cat = IndexCatalog(d)
        dd_part = sorted(glob.glob(os.path.join(cat.doc_dim_path(0), "*.parquet")))[0]
        orphan = os.path.join(cat.doc_dim_path(0), "orphan.parquet")
        shutil.copy(dd_part, orphan)

        kept = cat.gc_orphans(grace_seconds=3600)
        assert kept[0]["deleted"] == [] and any(
            "orphan.parquet" in o for o in kept[0]["kept"]
        )
        assert os.path.exists(orphan)

        gone = cat.gc_orphans(grace_seconds=0)
        assert any("orphan.parquet" in o for o in gone[0]["deleted"])
        assert not os.path.exists(orphan)
        assert cat.check_files()[0]["orphans"] == []
        assert len(_topk(spark, d, "world school")) > 0
