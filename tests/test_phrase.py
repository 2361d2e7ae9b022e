"""Exact-phrase search over positional postings (SURVEY §2 L7).

Engine vs a self-contained pandas oracle implementing Lucene PhraseQuery
(slop=0) semantics: pf = number of exact phrase occurrences, idf summed per
slot, the doc's usual dl norm. Also pins: positions survive compaction,
and a positions-less index refuses phrase queries loudly.
"""

import math

import numpy as np
import pytest

from cuvs_lucene_spark.analysis import (
    dequantize_dl_np,
    quantize_dl_np,
    tokenize_py,
)
from cuvs_lucene_spark.operators.build import build_index
from cuvs_lucene_spark.operators.merge import compact
from cuvs_lucene_spark.query import search_phrase

K1, B = 1.2, 0.75


def oracle_phrase(corpus_toks, phrase: str, k: int):
    """[(conv_id, turn_idx, score)] top-k, score desc / docID asc."""
    slots = tokenize_py(phrase)
    if not slots:
        return []
    docs_with_dl = [(c, t, toks, len(toks)) for c, t, toks in corpus_toks]
    n_docs = sum(1 for *_, dl in docs_with_dl if dl > 0)
    avgdl = sum(dl for *_, dl in docs_with_dl) / n_docs
    df = {
        s: sum(1 for *_, toks, _ in docs_with_dl if s in set(toks))
        for s in set(slots)
    }
    if any(df[s] == 0 for s in set(slots)):
        return []
    idf_sum = sum(
        math.log(1.0 + (n_docs - df[s] + 0.5) / (df[s] + 0.5)) for s in slots
    )
    scored = []
    for doc_id, (c, t, toks, dl) in enumerate(docs_with_dl):
        pf = sum(
            1
            for i in range(len(toks) - len(slots) + 1)
            if toks[i : i + len(slots)] == slots
        )
        if pf:
            # the engine norms by the SmallFloat-quantized dl (L4), not raw dl
            dl_d = float(
                dequantize_dl_np(quantize_dl_np(np.array([dl], dtype=np.int64)))[0]
            )
            score = idf_sum * pf / (pf + K1 * (1 - B + B * dl_d / avgdl))
            scored.append((doc_id, c, t, score))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return [(c, t, s) for _, c, t, s in scored[:k]]


def find_phrases(corpus_toks):
    """A few bigrams/trigrams that actually occur, incl. a repeated-term one."""
    from collections import Counter

    big = Counter()
    tri = Counter()
    for _, _, toks in corpus_toks:
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            tri[(a, b, c)] += 1
    picks = []
    # a mid-frequency bigram, the hottest bigram, a repeated-term trigram
    mids = [p for p, n in big.items() if 3 <= n <= 30]
    picks.append(" ".join(mids[0]))
    picks.append(" ".join(big.most_common(1)[0][0]))
    rep = next((p for p, n in tri.items() if len(set(p)) < 3 and n >= 2), None)
    if rep:
        picks.append(" ".join(rep))
    return picks


class TestPhraseOracle:
    def test_topk_matches_pandas_oracle(self, spark, pos_index, corpus_toks):
        for phrase in find_phrases(corpus_toks):
            exp = oracle_phrase(corpus_toks, phrase, 10)
            got = [
                (r["conv_id"], r["turn_idx"], float(r["score"]))
                for r in search_phrase(
                    spark, pos_index, phrase, k=10, float32=False
                ).collect()
            ]
            assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in exp], phrase
            for (_, _, g), (_, _, e) in zip(got, exp):
                assert g == pytest.approx(e, rel=1e-9), phrase

    def test_absent_adjacency_returns_empty(self, spark, pos_index, corpus_toks):
        # both terms exist somewhere, but never adjacent in this order
        vocab = sorted({t for _, _, toks in corpus_toks for t in toks})
        bigrams = {
            (a, b) for _, _, toks in corpus_toks for a, b in zip(toks, toks[1:])
        }
        pair = next(
            (a, b)
            for a in vocab[:20]
            for b in vocab[-20:]
            if (a, b) not in bigrams
        )
        assert search_phrase(spark, pos_index, " ".join(pair), k=5).count() == 0

    def test_degenerate(self, spark, pos_index):
        assert search_phrase(spark, pos_index, "zzzqqq xyzzy", k=5).count() == 0
        assert search_phrase(spark, pos_index, "", k=5).count() == 0
        assert search_phrase(spark, pos_index, "world school", k=0).count() == 0

    def test_single_term_phrase_matches_oracle(
        self, spark, pos_index, corpus_toks
    ):
        exp = oracle_phrase(corpus_toks, "world", 10)
        got = [
            (r["conv_id"], r["turn_idx"])
            for r in search_phrase(
                spark, pos_index, "world", k=10, float32=False
            ).collect()
        ]
        assert got == [(c, t) for c, t, _ in exp]


def oracle_sloppy_freq(pos_by_slot, slop):
    """Independent heapq transliteration of the published Lucene 8
    SloppyPhraseMatcher sweep (the engine uses a numpy argmin head-array
    instead — two separately-written implementations of the same spec)."""
    import heapq

    heads = [(pos[0], s) for s, pos in enumerate(pos_by_slot)]
    heapq.heapify(heads)
    end = max(p for p, _ in heads)
    ptr = [0] * len(pos_by_slot)
    p0, s0 = heapq.heappop(heads)
    match_len = end - p0
    nxt = heads[0][0]
    freq = 0.0
    while True:
        ptr[s0] += 1
        lst = pos_by_slot[s0]
        if ptr[s0] >= len(lst):
            break
        p = lst[ptr[s0]]
        if p > end:
            end = p
        if p > nxt:
            if match_len <= slop:
                freq += 1.0 / (1.0 + match_len)
            heapq.heappush(heads, (p, s0))
            p0, s0 = heapq.heappop(heads)
            match_len = end - p0
            nxt = heads[0][0]
        else:
            match_len = min(match_len, end - p)
    if match_len <= slop:
        freq += 1.0 / (1.0 + match_len)
    return freq


def oracle_sloppy_phrase(corpus_toks, phrase: str, k: int, slop: int):
    """[(conv_id, turn_idx, score)] top-k sloppy-phrase BM25."""
    slots = tokenize_py(phrase)
    docs_with_dl = [(c, t, toks, len(toks)) for c, t, toks in corpus_toks]
    n_docs = sum(1 for *_, dl in docs_with_dl if dl > 0)
    avgdl = sum(dl for *_, dl in docs_with_dl) / n_docs
    df = {
        s: sum(1 for *_, toks, _ in docs_with_dl if s in set(toks))
        for s in set(slots)
    }
    if any(df[s] == 0 for s in set(slots)):
        return []
    idf_sum = sum(
        math.log(1.0 + (n_docs - df[s] + 0.5) / (df[s] + 0.5)) for s in slots
    )
    scored = []
    for doc_id, (c, t, toks, dl) in enumerate(docs_with_dl):
        pos_by_slot = [
            [p - i for p, tok in enumerate(toks) if tok == slots[i]]
            for i in range(len(slots))
        ]
        if any(not ps for ps in pos_by_slot):
            continue
        pf = oracle_sloppy_freq(pos_by_slot, slop)
        if pf > 0.0:
            dl_d = float(
                dequantize_dl_np(quantize_dl_np(np.array([dl], dtype=np.int64)))[0]
            )
            score = idf_sum * pf / (pf + K1 * (1 - B + B * dl_d / avgdl))
            scored.append((doc_id, c, t, score))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return [(c, t, s) for _, c, t, s in scored[:k]]


class TestSloppyPhrase:
    def test_topk_matches_oracle_across_slops(self, spark, pos_index, corpus_toks):
        phrases = find_phrases(corpus_toks)
        # add a TRANSPOSED bigram: reversal of a real bigram exercises
        # negative adjusted positions ("b a" matches "a b"~2)
        first = [p for p in phrases if len(set(p.split())) == len(p.split())]
        rev = " ".join(reversed(first[0].split()))
        cases = [p for p in first if len(set(p.split())) == len(p.split())]
        cases.append(rev)
        for phrase in cases:
            for slop in (1, 2, 5):
                exp = oracle_sloppy_phrase(corpus_toks, phrase, 10, slop)
                got = [
                    (r["conv_id"], r["turn_idx"], float(r["score"]))
                    for r in search_phrase(
                        spark, pos_index, phrase, k=10, float32=False, slop=slop
                    ).collect()
                ]
                assert [(c, t) for c, t, _ in got] == [
                    (c, t) for c, t, _ in exp
                ], (phrase, slop)
                for (_, _, g), (_, _, e) in zip(got, exp):
                    assert g == pytest.approx(e, rel=1e-9), (phrase, slop)

    def test_slop0_sweep_counts_exact_anchors(self):
        """The sweep at slop=0 degenerates to exact-anchor counting: each
        anchor where every slot aligns contributes weight exactly 1."""
        from cuvs_lucene_spark.query import _lucene_sloppy_freq

        rng = np.random.RandomState(7)
        for _ in range(200):
            n = int(rng.randint(2, 5))
            toks = rng.randint(0, n + 2, size=rng.randint(n, 40))
            pos_by_slot = [
                np.array([p - i for p, v in enumerate(toks) if v == i],
                         dtype=np.int64)
                for i in range(n)
            ]
            if any(len(ps) == 0 for ps in pos_by_slot):
                continue
            exact = sum(
                1
                for a in range(len(toks) - n + 1)
                if all(toks[a + i] == i for i in range(n))
            )
            got = _lucene_sloppy_freq(pos_by_slot, 0)
            assert got == pytest.approx(float(exact)), toks

    def test_engine_sweep_equals_oracle_sweep_random(self):
        """Property pin: the numpy argmin sweep (engine) and the heapq sweep
        (oracle) agree on random position lists for every slop."""
        from cuvs_lucene_spark.query import _lucene_sloppy_freq

        rng = np.random.RandomState(11)
        for _ in range(300):
            n = int(rng.randint(2, 6))
            pos_by_slot = []
            for _s in range(n):
                m = int(rng.randint(1, 8))
                ps = np.unique(rng.randint(-3, 40, size=m)).astype(np.int64)
                pos_by_slot.append(ps)
            for slop in (0, 1, 2, 3, 7):
                a = _lucene_sloppy_freq(pos_by_slot, slop)
                b = oracle_sloppy_freq([list(p) for p in pos_by_slot], slop)
                assert a == pytest.approx(b), (pos_by_slot, slop)

    def test_sweep_kernel_tail_carry_across_batches(self):
        """A doc whose occurrence rows are split across Arrow batches must
        produce the same pf as the single-batch run (the pending-tail carry);
        docs missing a slot are dropped by the kernel itself."""
        import pandas as pd

        from cuvs_lucene_spark.query import make_sloppy_sweep_kernel

        rows = []
        rng = np.random.RandomState(3)
        for doc in range(40):
            for slot in range(3):
                for p in np.unique(rng.randint(0, 30, size=rng.randint(1, 6))):
                    rows.append((doc, slot, int(p) - slot, 10.0 + doc))
        # doc 40 misses slot 2 → must not appear in the output
        rows += [(40, 0, 1, 50.0), (40, 1, 1, 50.0)]
        pdf = pd.DataFrame(rows, columns=["doc_id", "slot", "adj", "dl_d"])
        kern = make_sloppy_sweep_kernel(range(3), 2)
        one = pd.concat(list(kern(iter([pdf]))), ignore_index=True)
        for cut in (7, len(pdf) // 3, len(pdf) - 5):
            parts = [pdf.iloc[:cut], pdf.iloc[cut:].reset_index(drop=True)]
            got = pd.concat(list(kern(iter(parts))), ignore_index=True)
            pd.testing.assert_frame_equal(
                got.sort_values("doc_id").reset_index(drop=True),
                one.sort_values("doc_id").reset_index(drop=True),
            )
        assert 40 not in set(one["doc_id"])

    def test_repeated_terms_with_slop_rejected(self, spark, pos_index, corpus_toks):
        rep = next(
            (p for p in find_phrases(corpus_toks) if len(set(p.split())) < len(p.split())),
            None,
        )
        phrase = rep or "the data the"
        with pytest.raises(ValueError, match="repeated"):
            search_phrase(spark, pos_index, phrase, k=5, slop=2)

    def test_sloppy_with_filter_and_deletes(self, spark, tiny_df, corpus_toks, tmp_path_factory):
        """Deleted docs never surface in sloppy results; filter_cond applies."""
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.operators.deletes import delete_docs
        from cuvs_lucene_spark.query import IndexReader

        d = str(tmp_path_factory.mktemp("idx") / "slopdel")
        build_index(
            spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10,
            positions=True,
        )
        phrase = find_phrases(corpus_toks)[0]
        if len(set(phrase.split())) < len(phrase.split()):
            phrase = next(
                p for p in find_phrases(corpus_toks)
                if len(set(p.split())) == len(p.split())
            )
        base = search_phrase(spark, d, phrase, k=10, slop=3).collect()
        assert base, phrase
        victim = int(base[0]["doc_id"])
        rd = IndexReader(spark, d)
        keys = (
            rd.cat.read_doc_dim(spark)
            .where(F.col("doc_id") == victim)
            .select("conv_id", "turn_idx")
        )
        assert delete_docs(spark, d, keys) == 1
        after = search_phrase(spark, d, phrase, k=10, slop=3).collect()
        assert victim not in {int(r["doc_id"]) for r in after}
        flt = search_phrase(
            spark, d, phrase, k=10, slop=3, filter_cond=F.col("role") == "user"
        ).collect()
        roles = {r["doc_id"] for r in flt}
        if roles:
            dd = spark.read.parquet(f"{d}/seg=0/doc_dim")
            ok = dd.where(F.col("doc_id").isin([int(x) for x in roles])).select("role").distinct().collect()
            assert {r["role"] for r in ok} == {"user"}


class TestPhraseLifecycle:
    def test_positions_survive_compaction(
        self, spark, tiny_df, corpus_toks, tmp_path_factory
    ):
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.operators.build import build_segment

        d = str(tmp_path_factory.mktemp("idx") / "pos2seg")
        cut = "conv-00000100"
        build_segment(
            spark, tiny_df.where(F.col("conv_id") < cut), d, 0,
            buckets=8, salt_buckets=4, hot_df_ratio=0.10, positions=True,
        )
        build_segment(
            spark, tiny_df.where(F.col("conv_id") >= cut), d, 1,
            buckets=8, salt_buckets=4, hot_df_ratio=0.10, positions=True,
        )
        phrase = find_phrases(corpus_toks)[0]
        before = [
            (r["conv_id"], r["turn_idx"], round(float(r["score"]), 6))
            for r in search_phrase(spark, d, phrase, k=10).collect()
        ]
        assert before  # the picked phrase occurs
        compact(spark, d)
        after = [
            (r["conv_id"], r["turn_idx"], round(float(r["score"]), 6))
            for r in search_phrase(spark, d, phrase, k=10).collect()
        ]
        assert after == before

    def test_positionless_index_refuses(self, spark, tiny_index):
        with pytest.raises(ValueError, match="positions=True"):
            search_phrase(spark, tiny_index, "world school", k=5)


def test_duckdb_sweep_matches_engine():
    """Fuzz-pin the production DuckDB recursive-CTE sweep (the
    fts_topk_phrase_slop oracle, __spark_entry__.sloppy_sweep_cte) against
    the engine kernel (_lucene_sloppy_freq) over random adjusted-position
    list pairs — the same independence the other gates get from their
    ANSI-SQL twins, applied to the sweep state machine itself."""
    import duckdb

    import __spark_entry__ as entry
    from cuvs_lucene_spark.query import _lucene_sloppy_freq

    rng = np.random.default_rng(7)
    con = duckdb.connect()
    for _trial in range(40):
        slop = int(rng.integers(0, 6))
        rows, expected = [], {}
        for d in range(int(rng.integers(1, 6))):
            na, nb = int(rng.integers(1, 9)), int(rng.integers(1, 9))
            la = np.sort(rng.integers(-1, 30, na)).astype(np.int64)
            lb = np.sort(rng.integers(-1, 30, nb)).astype(np.int64)
            expected[d] = _lucene_sloppy_freq([la, lb], slop)
            rows.append(f"({d}, {la.tolist()}::bigint[], {lb.tolist()}::bigint[])")
        con.execute(
            "CREATE OR REPLACE TABLE pairs AS SELECT * FROM (VALUES "
            + ", ".join(rows) + ") t(doc_id, la, lb)"
        )
        got = dict(
            con.execute(
                "WITH RECURSIVE " + entry.sloppy_sweep_cte(slop)
                + " SELECT doc_id, freq FROM sweep WHERE done"
            ).fetchall()
        )
        for d, exp in expected.items():
            assert got[d] == pytest.approx(exp, abs=1e-12), (d, slop)


def oracle_multiphrase(corpus_toks, slot_alts, k, slop=0):
    """[(conv_id, turn_idx, score)] top-k MultiPhraseQuery BM25: per slot a
    tuple of alternatives; pf counts anchors where every slot has SOME
    alternative (slop=0) or runs the sloppy sweep over each slot's union of
    adjusted positions (slop>0); idf sums over present alternatives."""
    docs_with_dl = [(c, t, toks, len(toks)) for c, t, toks in corpus_toks]
    n_docs = sum(1 for *_, dl in docs_with_dl if dl > 0)
    avgdl = sum(dl for *_, dl in docs_with_dl) / n_docs
    all_terms = {t for a in slot_alts for t in a}
    df = {
        s: sum(1 for *_, toks, _ in docs_with_dl if s in set(toks))
        for s in all_terms
    }
    present = [tuple(t for t in a if df[t] > 0) for a in slot_alts]
    if any(not a for a in present):
        return []
    idf_sum = sum(
        math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
        for a in present
        for t in a
    )
    scored = []
    for doc_id, (c, t, toks, dl) in enumerate(docs_with_dl):
        pos_by_slot = [
            sorted(
                p - i for p, tok in enumerate(toks) if tok in set(present[i])
            )
            for i in range(len(present))
        ]
        if any(not ps for ps in pos_by_slot):
            continue
        if slop == 0:
            pf = float(len(set.intersection(*[set(ps) for ps in pos_by_slot])))
        else:
            pf = oracle_sloppy_freq(pos_by_slot, slop)
        if pf > 0.0:
            dl_d = float(
                dequantize_dl_np(quantize_dl_np(np.array([dl], dtype=np.int64)))[0]
            )
            score = idf_sum * pf / (pf + K1 * (1 - B + B * dl_d / avgdl))
            scored.append((doc_id, c, t, score))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return [(c, t, s) for _, c, t, s in scored[:k]]


def _alt_bigram(corpus_toks):
    """(first, [alt1, alt2]): two real bigrams sharing their first token."""
    from collections import Counter

    big = Counter()
    for _, _, toks in corpus_toks:
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    by_first: dict[str, set] = {}
    for (a, b), n in big.items():
        if 3 <= n <= 60 and a != b:
            by_first.setdefault(a, set()).add(b)
    a, bs = next(
        (a, bs) for a, bs in sorted(by_first.items()) if len(bs) >= 2
    )
    alts = sorted(bs)[:2]
    assert a not in alts
    return a, alts


class TestMultiPhrase:
    def test_singleton_slots_reduce_to_phrase(self, spark, pos_index, corpus_toks):
        from cuvs_lucene_spark.query import search_multiphrase

        phrase = find_phrases(corpus_toks)[0]
        got_mp = search_multiphrase(
            spark, pos_index, [(t,) for t in phrase.split()], k=10,
            float32=False,
        ).collect()
        got_p = search_phrase(
            spark, pos_index, phrase, k=10, float32=False
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in got_mp] == [
            (r["doc_id"], r["score"]) for r in got_p
        ]

    def test_alternatives_match_oracle(self, spark, pos_index, corpus_toks):
        from cuvs_lucene_spark.query import search_multiphrase

        a, alts = _alt_bigram(corpus_toks)
        exp = oracle_multiphrase(corpus_toks, [(a,), tuple(alts)], 10)
        assert exp
        got = [
            (r["conv_id"], r["turn_idx"], float(r["score"]))
            for r in search_multiphrase(
                spark, pos_index, [a, alts], k=10, float32=False
            ).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in exp]
        for (_, _, g), (_, _, e) in zip(got, exp):
            assert g == pytest.approx(e, rel=1e-9)

    def test_sloppy_alternatives_match_oracle(self, spark, pos_index, corpus_toks):
        from cuvs_lucene_spark.query import search_multiphrase

        a, alts = _alt_bigram(corpus_toks)
        for slop in (1, 3):
            exp = oracle_multiphrase(
                corpus_toks, [(a,), tuple(alts)], 10, slop=slop
            )
            got = [
                (r["conv_id"], r["turn_idx"], float(r["score"]))
                for r in search_multiphrase(
                    spark, pos_index, [a, alts], k=10, float32=False,
                    slop=slop,
                ).collect()
            ]
            assert [(c, t) for c, t, _ in got] == [
                (c, t) for c, t, _ in exp
            ], slop
            for (_, _, g), (_, _, e) in zip(got, exp):
                assert g == pytest.approx(e, rel=1e-9), slop

    def test_absent_alternative_dropped_and_absent_slot_empty(
        self, spark, pos_index, corpus_toks
    ):
        from cuvs_lucene_spark.query import search_multiphrase

        a, alts = _alt_bigram(corpus_toks)
        with_ghost = search_multiphrase(
            spark, pos_index, [a, [alts[0], "zzzzqq"]], k=10, float32=False
        ).collect()
        without = search_multiphrase(
            spark, pos_index, [a, [alts[0]]], k=10, float32=False
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in with_ghost] == [
            (r["doc_id"], r["score"]) for r in without
        ]
        assert (
            search_multiphrase(
                spark, pos_index, [a, ["zzzzqq", "zzzzqr"]], k=10
            ).count()
            == 0
        )


class TestPhrasePrefix:
    def test_matches_manual_expansion(self, spark, pos_index, corpus_toks):
        from cuvs_lucene_spark.query import search_phrase_prefix

        a, alts = _alt_bigram(corpus_toks)
        pre = alts[0][:4]
        vocab = {t for _, _, toks in corpus_toks for t in toks}
        expansion = sorted(t for t in vocab if t.startswith(pre))
        assert expansion
        exp = oracle_multiphrase(corpus_toks, [(a,), tuple(expansion)], 10)
        got = [
            (r["conv_id"], r["turn_idx"], float(r["score"]))
            for r in search_phrase_prefix(
                spark, pos_index, f"{a} {pre}", k=10, float32=False,
                max_expansions=len(expansion) + 1,
            ).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in exp]
        for (_, _, g), (_, _, e) in zip(got, exp):
            assert g == pytest.approx(e, rel=1e-9)

    def test_too_many_expansions_raises(self, spark, pos_index):
        from cuvs_lucene_spark.multiterm import TooManyClauses
        from cuvs_lucene_spark.query import search_phrase_prefix

        with pytest.raises(TooManyClauses):
            search_phrase_prefix(
                spark, pos_index, "the w", k=10, max_expansions=1
            )

    def test_no_expansion_is_empty(self, spark, pos_index):
        from cuvs_lucene_spark.query import search_phrase_prefix

        out = search_phrase_prefix(spark, pos_index, "the zzzzq", k=10)
        assert out.count() == 0


def _warm_call_jobs(spark, run, group: str) -> int:
    """Spark jobs one warm call of ``run`` starts, counted through a job
    group and the status tracker. Ungrouped jobs that appear during the
    call count too (jobs started from engine threads carry no group)."""
    import time

    sc = spark.sparkContext
    st = sc.statusTracker()
    run()  # warm the term-stats and table caches
    before = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store trails the action through the listener bus: poll
    # until the job set is stable and every job has finished
    deadline, prev = time.monotonic() + 10.0, None
    while True:
        jobs = set(st.getJobIdsForGroup(group))
        jobs |= set(st.getJobIdsForGroup(None)) - before
        infos = [st.getJobInfo(j) for j in jobs]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
        if (done and jobs == prev) or time.monotonic() > deadline:
            return len(jobs)
        prev = jobs
        time.sleep(0.05)


class TestPositionalJobBudget:
    """The positional plans' Spark job counts on the shared tiny index. The
    sloppy phrase's term conjunction is a map lookup inside the postings
    pass; a broadcast join of a locally built term → slot frame costs one
    more job."""

    @pytest.mark.parametrize(
        "case,budget",
        [("phrase_slop2", 8), ("span_near_slop2", 8), ("span_containing", 8)],
    )
    def test_warm_job_count(self, spark, pos_index, case, budget):
        from cuvs_lucene_spark.spans import (
            search_span_containing,
            search_span_near,
        )

        run = {
            "phrase_slop2": lambda: search_phrase(
                spark, pos_index, "have be", k=10, slop=2
            ),
            "span_near_slop2": lambda: search_span_near(
                spark, pos_index, "that be", k=10, slop=2
            ),
            "span_containing": lambda: search_span_containing(
                spark, pos_index, "w49999 be the", "be", big_slop=3, k=10
            ),
        }[case]
        rows = []
        n = _warm_call_jobs(
            spark, lambda: rows.append(run().collect()), f"job-budget-{case}"
        )
        assert rows[-1]  # the query matches, so every stage runs
        assert n == budget

    def test_term_stats_miss_is_one_job(self, spark, pos_index):
        """A term-stats cache miss is one dictionary scan; the per-segment
        rows are summed on the driver, as a Spark aggregate would be."""
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.query import IndexReader

        rd = IndexReader(spark, pos_index)
        calls = iter([["world", "zzqmiss1"], ["school", "be", "zzqmiss2"]])
        got = []
        n = _warm_call_jobs(
            spark, lambda: got.append(rd.term_stats(next(calls))),
            "job-budget-term-stats",
        )
        assert n == 1
        exp = {
            r["term"]: (r["df"], r["bucket"], r["cf"])
            for r in rd.cat.read_dictionary(spark)
            .where(
                (F.col("field") == rd.fields[0])
                & F.col("term").isin("school", "be", "zzqmiss2")
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.min("bucket").alias("bucket"),
                 F.sum("cf").alias("cf"))
            .collect()
        }
        assert got[-1] == exp and set(exp) == {"school", "be"}
