"""Ordered span-near search (SpanNearQuery(inOrder=true) analog).

Engine vs a self-contained pandas oracle implementing the documented
NearSpansOrdered enumeration INDEPENDENTLY (pure-python loops, no numpy, no
shared code with cuvs_lucene_spark.spans): one candidate per first-clause
position, minimal stretch of each later clause, width = sum of gaps,
pf = Σ 1/(1+width) over width <= slop, BM25 pseudo-term scoring. Also pins:
order sensitivity, slop monotonicity, the vectorized kernel vs the loop
spec on randomized position sets, filter/deletes composition, and loud
rejection of repeats/unordered/position-less indexes.
"""

import math
import random

import numpy as np
import pytest

from cuvs_lucene_spark.analysis import (
    dequantize_dl_np,
    quantize_dl_np,
    tokenize_py,
)
from cuvs_lucene_spark.spans import ordered_span_pf, search_span_near

K1, B = 1.2, 0.75


def loop_ordered_pf(pos_by_slot, slop):
    """Independent spec: plain-python transliteration of the documented
    NearSpansOrdered enumeration."""
    freq = 0.0
    for p in pos_by_slot[0]:
        prev_end, width, ok = p + 1, 0, True
        for later in pos_by_slot[1:]:
            nxt = [x for x in later if x >= prev_end]
            if not nxt:
                ok = False
                break
            q = min(nxt)
            width += q - prev_end
            prev_end = q + 1
        if ok and width <= slop:
            freq += 1.0 / (1.0 + width)
    return freq


def oracle_span_near(corpus_toks, terms, slop, k):
    """[(conv_id, turn_idx, score)] top-k via the loop spec + BM25."""
    docs = [(c, t, toks, len(toks)) for c, t, toks in corpus_toks]
    n_docs = sum(1 for *_, dl in docs if dl > 0)
    avgdl = sum(dl for *_, dl in docs) / n_docs
    df = {
        s: sum(1 for *_, toks, _ in docs if s in set(toks)) for s in set(terms)
    }
    if any(df[s] == 0 for s in terms):
        return []
    idf_sum = sum(
        math.log(1.0 + (n_docs - df[s] + 0.5) / (df[s] + 0.5)) for s in terms
    )
    scored = []
    for doc_id, (c, t, toks, dl) in enumerate(docs):
        pos = [[i for i, w in enumerate(toks) if w == s] for s in terms]
        if any(not p for p in pos):
            continue
        pf = loop_ordered_pf(pos, slop)
        if pf > 0.0:
            dl_d = float(
                dequantize_dl_np(quantize_dl_np(np.array([dl], dtype=np.int64)))[0]
            )
            score = idf_sum * pf / (pf + K1 * (1 - B + B * dl_d / avgdl))
            scored.append((doc_id, c, t, score))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return [(c, t, s) for _, c, t, s in scored[:k]]


class TestKernelSpec:
    def test_hand_cases(self):
        # a@[0,10] b@[2,11] c@[4]: p=0 → widths 1+1=2; p=10 → c exhausted
        ps = [[0, 10], [2, 11], [4]]
        assert ordered_span_pf([np.array(x) for x in ps], 2) == pytest.approx(1 / 3)
        assert ordered_span_pf([np.array(x) for x in ps], 1) == 0.0
        # adjacency: a@[3] b@[4] → width 0, pf 1 at slop 0
        assert ordered_span_pf([np.array([3]), np.array([4])], 0) == 1.0
        # same position never matches (next start >= prev end)
        assert ordered_span_pf([np.array([3]), np.array([3])], 9) == 0.0
        # order matters: b before a only
        assert ordered_span_pf([np.array([5]), np.array([1])], 99) == 0.0

    @pytest.mark.parametrize("seed", range(30))
    def test_vectorized_matches_loop_spec_randomized(self, seed):
        rng = random.Random(seed)
        n = rng.randint(2, 4)
        pos = [
            sorted(rng.sample(range(40), rng.randint(0, 8))) for _ in range(n)
        ]
        slop = rng.randint(0, 12)
        got = ordered_span_pf([np.array(p, dtype=np.int64) for p in pos], slop)
        assert got == pytest.approx(loop_ordered_pf(pos, slop))


class TestSearchSpanNear:
    @pytest.mark.parametrize(
        "q,slop",
        [
            ("world school", 0),
            ("world school", 3),
            ("the world", 5),
            ("student country help", 8),
            ("school world", 3),  # reversed order ≠ forward order
        ],
    )
    def test_matches_oracle(self, spark, pos_index, corpus_toks, q, slop):
        terms = tokenize_py(q)
        exp = oracle_span_near(corpus_toks, terms, slop, 10)
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in search_span_near(
                spark, pos_index, q, slop=slop, k=10, float32=False
            ).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in exp], (q, slop)
        for (_, _, gs), (_, _, es) in zip(got, exp):
            assert abs(gs - es) < 1e-5

    def test_slop_monotone_and_order_sensitivity(
        self, spark, pos_index, corpus_toks
    ):
        ns = [
            search_span_near(spark, pos_index, "world school", slop=s, k=10**9)
            .count()
            for s in (0, 2, 8)
        ]
        assert ns == sorted(ns)  # larger slop can only add matches
        fwd = search_span_near(spark, pos_index, "the world", slop=1, k=10**9)
        rev = search_span_near(spark, pos_index, "world the", slop=1, k=10**9)
        assert {r["doc_id"] for r in fwd.collect()} != {
            r["doc_id"] for r in rev.collect()
        }

    def test_filter_composes(self, spark, pos_index):
        from pyspark.sql import functions as F

        rows = search_span_near(
            spark, pos_index, "world school", slop=4, k=10**9,
            filter_cond=F.col("role") == "user",
        ).collect()
        all_rows = search_span_near(
            spark, pos_index, "world school", slop=4, k=10**9
        ).collect()
        from cuvs_lucene_spark.query import IndexReader

        rd = IndexReader(spark, pos_index)
        role_of = {
            r["doc_id"]: r["role"]
            for r in rd.cat.read_doc_dim(spark).select("doc_id", "role").collect()
        }
        kept = {r["doc_id"] for r in rows}
        expected = {
            r["doc_id"] for r in all_rows if role_of[r["doc_id"]] == "user"
        }
        assert kept == expected
        assert all_rows  # non-degenerate fixture

    def test_guards(self, spark, pos_index, tiny_index):
        with pytest.raises(ValueError, match="repeated"):
            search_span_near(spark, pos_index, "world world", slop=2).collect()
        with pytest.raises(ValueError, match="repeated"):
            search_span_near(
                spark, pos_index, "world world", slop=2, in_order=False
            ).collect()
        with pytest.raises(ValueError, match="slop"):
            search_span_near(spark, pos_index, "a b", slop=-1)
        with pytest.raises(ValueError, match="positions"):
            # tiny_index is built WITHOUT positions
            search_span_near(spark, tiny_index, "world school", slop=1).collect()
        # absent term / empty query / k=0 → empty, not errors
        assert search_span_near(spark, pos_index, "world zzqq", slop=3).count() == 0
        assert search_span_near(spark, pos_index, "", slop=3).count() == 0
        assert search_span_near(spark, pos_index, "world school", k=0).count() == 0

    def test_single_term_routes_to_term_scoring(self, spark, pos_index):
        from cuvs_lucene_spark.query import search_phrase

        a = [
            (r["doc_id"], r["score"])
            for r in search_span_near(spark, pos_index, "world", slop=7, k=10).collect()
        ]
        b = [
            (r["doc_id"], r["score"])
            for r in search_phrase(spark, pos_index, "world", k=10).collect()
        ]
        assert a == b


# ---------------------------------------------------------------------------
# unordered span-near (NearSpansUnordered analog)
# ---------------------------------------------------------------------------


def loop_unordered_pf(pos_by_slot, slop):
    """Independent spec of the NearSpansUnordered enumeration — NOT the
    engine's merge walk: enumerate EVERY index combination and keep the
    merge-visited ones by the order-theoretic characterization (a state is
    visited iff every consumed position precedes every current one), then
    apply the documented match check and weight. O(Π sizes) — test-only."""
    import itertools

    n = len(pos_by_slot)
    if any(not p for p in pos_by_slot):
        return 0.0
    pf = 0.0
    for combo in itertools.product(*[range(len(p)) for p in pos_by_slot]):
        consumed = [
            pos_by_slot[t][i - 1] for t, i in enumerate(combo) if i > 0
        ]
        currents = [pos_by_slot[t][i] for t, i in enumerate(combo)]
        if consumed and max(consumed) >= min(currents):
            continue  # not a merge-walk state
        mn, mx = min(currents), max(currents)
        if mx - mn - (n - 1) <= slop:
            pf += 1.0 / (1.0 + (mx - mn))
    return pf


def oracle_span_near_unordered(corpus_toks, terms, slop, k):
    """[(conv_id, turn_idx, score)] top-k via the unordered loop spec."""
    docs = [(c, t, toks, len(toks)) for c, t, toks in corpus_toks]
    n_docs = sum(1 for *_, dl in docs if dl > 0)
    avgdl = sum(dl for *_, dl in docs) / n_docs
    df = {
        s: sum(1 for *_, toks, _ in docs if s in set(toks)) for s in set(terms)
    }
    if any(df[s] == 0 for s in terms):
        return []
    idf_sum = sum(
        math.log(1.0 + (n_docs - df[s] + 0.5) / (df[s] + 0.5)) for s in terms
    )
    scored = []
    for doc_id, (c, t, toks, dl) in enumerate(docs):
        pos = [[i for i, w in enumerate(toks) if w == s] for s in terms]
        if any(not p for p in pos):
            continue
        pf = loop_unordered_pf(pos, slop)
        if pf > 0.0:
            dl_d = float(
                dequantize_dl_np(quantize_dl_np(np.array([dl], dtype=np.int64)))[0]
            )
            score = idf_sum * pf / (pf + K1 * (1 - B + B * dl_d / avgdl))
            scored.append((doc_id, c, t, score))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return [(c, t, s) for _, c, t, s in scored[:k]]


class TestUnorderedKernelSpec:
    def test_hand_cases(self):
        from cuvs_lucene_spark.spans import unordered_span_pf

        # a@[0] b@[2]: one state, width 2, gap 1 → matches at slop>=1
        assert unordered_span_pf([np.array([0]), np.array([2])], 1) == (
            pytest.approx(1 / 3)
        )
        assert unordered_span_pf([np.array([0]), np.array([2])], 0) == 0.0
        # order-free: b before a matches identically
        assert unordered_span_pf([np.array([5]), np.array([1])], 3) == (
            unordered_span_pf([np.array([1]), np.array([5])], 3)
        )
        # walk visits (1,3) then (5,3): both width 2 at slop 1
        assert unordered_span_pf(
            [np.array([1, 5]), np.array([3])], 1
        ) == pytest.approx(2 / 3)
        # 3 clauses packed tight: state (0,1,2) width 2, gap 0
        assert unordered_span_pf(
            [np.array([1]), np.array([0]), np.array([2])], 0
        ) == pytest.approx(1 / 3)

    def test_distinct_from_sloppy_phrase(self):
        """The unordered-span surface is NOT sloppy phrase: same doc, same
        window, different frequency (weight uses span width, not the
        position-adjusted matchLength)."""
        from cuvs_lucene_spark.query import _lucene_sloppy_freq
        from cuvs_lucene_spark.spans import unordered_span_pf

        # tokens a@0, b@2 — phrase "a b"~2 has ADJUSTED positions a:0, b:1
        span = unordered_span_pf([np.array([0]), np.array([2])], 2)
        sloppy = _lucene_sloppy_freq([np.array([0]), np.array([1])], 2)
        assert span == pytest.approx(1 / 3)
        assert sloppy == pytest.approx(1 / 2)
        assert span != sloppy

    @pytest.mark.parametrize("seed", range(30))
    def test_walk_matches_bruteforce_spec_randomized(self, seed):
        from cuvs_lucene_spark.spans import unordered_span_pf

        rng = random.Random(1000 + seed)
        n = rng.randint(2, 4)
        # distinct positions across clauses (one token per position)
        sample = rng.sample(range(50), 18)
        pools, at = [], 0
        for i in range(n):
            take = rng.randint(1, 5)
            pools.append(sorted(sample[at:at + take]))
            at += take
        slop = rng.randint(0, 12)
        got = unordered_span_pf(
            [np.array(p, dtype=np.int64) for p in pools], slop
        )
        assert got == pytest.approx(loop_unordered_pf(pools, slop))


class TestSearchSpanNearUnordered:
    @pytest.mark.parametrize(
        "q,slop",
        [
            ("world school", 0),
            ("world school", 3),
            ("the world", 5),
            ("student country help", 8),
        ],
    )
    def test_matches_oracle(self, spark, pos_index, corpus_toks, q, slop):
        terms = tokenize_py(q)
        exp = oracle_span_near_unordered(corpus_toks, terms, slop, 10)
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in search_span_near(
                spark, pos_index, q, slop=slop, k=10, float32=False,
                in_order=False,
            ).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in exp], (q, slop)
        for (_, _, gs), (_, _, es) in zip(got, exp):
            assert abs(gs - es) < 1e-5

    def test_clause_order_is_irrelevant(self, spark, pos_index):
        fwd = [
            (r["doc_id"], round(float(r["score"]), 6))
            for r in search_span_near(
                spark, pos_index, "the world", slop=2, k=10**9, in_order=False
            ).collect()
        ]
        rev = [
            (r["doc_id"], round(float(r["score"]), 6))
            for r in search_span_near(
                spark, pos_index, "world the", slop=2, k=10**9, in_order=False
            ).collect()
        ]
        assert fwd and fwd == rev

    def test_superset_of_ordered_matches(self, spark, pos_index):
        """Every ordered match is an unordered match at the same slop: the
        ordered enumeration's windows are a subset (with widths >= gaps)."""
        uno = {
            r["doc_id"]
            for r in search_span_near(
                spark, pos_index, "world school", slop=6, k=10**9,
                in_order=False,
            ).collect()
        }
        ordd = {
            r["doc_id"]
            for r in search_span_near(
                spark, pos_index, "world school", slop=6, k=10**9
            ).collect()
        }
        assert ordd and ordd <= uno


# ---------------------------------------------------------------------------
# SpanFirst (SpanFirstQuery analog: spans ending within the first N positions)
# ---------------------------------------------------------------------------


def loop_ordered_pf_first(pos_by_slot, slop, end):
    """Independent spec: the ordered loop spec with Lucene's FilterSpans
    acceptance — span end (last matched position + 1) must be <= end."""
    freq = 0.0
    for p in pos_by_slot[0]:
        prev_end, width, ok = p + 1, 0, True
        for later in pos_by_slot[1:]:
            nxt = [x for x in later if x >= prev_end]
            if not nxt:
                ok = False
                break
            q = min(nxt)
            width += q - prev_end
            prev_end = q + 1
        if ok and width <= slop and prev_end <= end:
            freq += 1.0 / (1.0 + width)
    return freq


def loop_unordered_pf_first(pos_by_slot, slop, end):
    """Unordered brute-force spec with the end filter on each state."""
    import itertools

    n = len(pos_by_slot)
    if any(not p for p in pos_by_slot):
        return 0.0
    pf = 0.0
    for combo in itertools.product(*[range(len(p)) for p in pos_by_slot]):
        consumed = [
            pos_by_slot[t][i - 1] for t, i in enumerate(combo) if i > 0
        ]
        currents = [pos_by_slot[t][i] for t, i in enumerate(combo)]
        if consumed and max(consumed) >= min(currents):
            continue
        mn, mx = min(currents), max(currents)
        if mx - mn - (n - 1) <= slop and mx + 1 <= end:
            pf += 1.0 / (1.0 + (mx - mn))
    return pf


def oracle_span_first(corpus_toks, terms, slop, end, k, in_order=True):
    """[(conv_id, turn_idx, score)] top-k via the filtered loop specs; a
    single term is a width-0 span filtered to positions < end (pf = count)."""
    docs = [(c, t, toks, len(toks)) for c, t, toks in corpus_toks]
    n_docs = sum(1 for *_, dl in docs if dl > 0)
    avgdl = sum(dl for *_, dl in docs) / n_docs
    df = {
        s: sum(1 for *_, toks, _ in docs if s in set(toks)) for s in set(terms)
    }
    if any(df[s] == 0 for s in terms):
        return []
    idf_sum = sum(
        math.log(1.0 + (n_docs - df[s] + 0.5) / (df[s] + 0.5)) for s in terms
    )
    scored = []
    for doc_id, (c, t, toks, dl) in enumerate(docs):
        pos = [[i for i, w in enumerate(toks) if w == s] for s in terms]
        if any(not p for p in pos):
            continue
        if len(terms) == 1:
            pf = float(sum(1 for p in pos[0] if p + 1 <= end))
        elif in_order:
            pf = loop_ordered_pf_first(pos, slop, end)
        else:
            pf = loop_unordered_pf_first(pos, slop, end)
        if pf > 0.0:
            dl_d = float(
                dequantize_dl_np(quantize_dl_np(np.array([dl], dtype=np.int64)))[0]
            )
            score = idf_sum * pf / (pf + K1 * (1 - B + B * dl_d / avgdl))
            scored.append((doc_id, c, t, score))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return [(c, t, s) for _, c, t, s in scored[:k]]


class TestSpanFirstKernelSpec:
    def test_hand_cases_ordered(self):
        # a@[0,10] b@[2,11]: spans end at 3 and 12; end=3 keeps only the
        # first (width 1) — end=12 keeps both
        ps = [np.array([0, 10]), np.array([2, 11])]
        assert ordered_span_pf(ps, 3, max_end=3) == pytest.approx(1 / 2)
        assert ordered_span_pf(ps, 3, max_end=12) == pytest.approx(1 / 2 + 1 / 1)
        assert ordered_span_pf(ps, 3, max_end=2) == 0.0
        # max_end=None is the unfiltered enumeration
        assert ordered_span_pf(ps, 3) == ordered_span_pf(ps, 3, max_end=10**9)

    def test_hand_cases_unordered(self):
        from cuvs_lucene_spark.spans import unordered_span_pf

        # b@2 before a@5: state ends at 6
        ps = [np.array([5]), np.array([2])]
        assert unordered_span_pf(ps, 3, max_end=6) == pytest.approx(1 / 4)
        assert unordered_span_pf(ps, 3, max_end=5) == 0.0

    @pytest.mark.parametrize("seed", range(20))
    def test_ordered_filtered_matches_loop_spec(self, seed):
        rng = random.Random(7000 + seed)
        n = rng.randint(2, 4)
        pos = [
            sorted(rng.sample(range(40), rng.randint(0, 8))) for _ in range(n)
        ]
        slop = rng.randint(0, 12)
        end = rng.randint(1, 45)
        got = ordered_span_pf(
            [np.array(p, dtype=np.int64) for p in pos], slop, max_end=end
        )
        assert got == pytest.approx(loop_ordered_pf_first(pos, slop, end))

    @pytest.mark.parametrize("seed", range(20))
    def test_unordered_filtered_matches_loop_spec(self, seed):
        from cuvs_lucene_spark.spans import unordered_span_pf

        rng = random.Random(8000 + seed)
        n = rng.randint(2, 4)
        sample = rng.sample(range(50), 18)
        pools, at = [], 0
        for i in range(n):
            take = rng.randint(1, 5)
            pools.append(sorted(sample[at:at + take]))
            at += take
        slop = rng.randint(0, 12)
        end = rng.randint(1, 55)
        got = unordered_span_pf(
            [np.array(p, dtype=np.int64) for p in pools], slop, max_end=end
        )
        assert got == pytest.approx(loop_unordered_pf_first(pools, slop, end))


class TestSearchSpanFirst:
    @pytest.mark.parametrize(
        "q,slop,end,in_order",
        [
            ("world", 0, 5, True),       # single-term span filtered to head
            ("world", 0, 1, True),       # only position 0 qualifies
            ("world school", 3, 8, True),
            ("world school", 6, 20, True),
            ("the world", 4, 10, False),  # unordered inner span
        ],
    )
    def test_matches_oracle(
        self, spark, pos_index, corpus_toks, q, slop, end, in_order
    ):
        from cuvs_lucene_spark.spans import search_span_first

        terms = tokenize_py(q)
        exp = oracle_span_first(corpus_toks, terms, slop, end, 10, in_order)
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in search_span_first(
                spark, pos_index, q, end=end, slop=slop, k=10,
                float32=False, in_order=in_order,
            ).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in exp], (
            q, slop, end, in_order,
        )
        for (_, _, gs), (_, _, es) in zip(got, exp):
            assert abs(gs - es) < 1e-5

    def test_end_monotone_and_converges_to_unfiltered(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_first

        ns = [
            search_span_first(
                spark, pos_index, "world school", end=e, slop=4, k=10**9
            ).count()
            for e in (2, 6, 15)
        ]
        assert ns == sorted(ns)  # larger prefix can only admit more spans
        wide = [
            (r["doc_id"], round(float(r["score"]), 6))
            for r in search_span_first(
                spark, pos_index, "world school", end=10**6, slop=4, k=10**9,
                float32=False,
            ).collect()
        ]
        unfiltered = [
            (r["doc_id"], round(float(r["score"]), 6))
            for r in search_span_near(
                spark, pos_index, "world school", slop=4, k=10**9,
                float32=False,
            ).collect()
        ]
        assert wide and wide == unfiltered

    def test_guards_and_degenerates(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_first

        assert search_span_first(spark, pos_index, "world", end=0).count() == 0
        assert search_span_first(spark, pos_index, "", end=5).count() == 0
        assert (
            search_span_first(spark, pos_index, "world", end=5, k=0).count()
            == 0
        )
        with pytest.raises(ValueError, match="slop"):
            search_span_first(spark, pos_index, "a b", end=5, slop=-1)
        with pytest.raises(ValueError, match="repeated"):
            search_span_first(
                spark, pos_index, "world world", end=9, slop=2
            ).collect()

    def test_filter_composes(self, spark, pos_index):
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.spans import search_span_first

        rows = search_span_first(
            spark, pos_index, "world", end=6, k=10**9,
            filter_cond=F.col("role") == "user",
        ).collect()
        all_rows = search_span_first(
            spark, pos_index, "world", end=6, k=10**9
        ).collect()
        from cuvs_lucene_spark.query import IndexReader

        rd = IndexReader(spark, pos_index)
        role_of = {
            r["doc_id"]: r["role"]
            for r in rd.cat.read_doc_dim(spark).select("doc_id", "role").collect()
        }
        assert {r["doc_id"] for r in rows} == {
            r["doc_id"] for r in all_rows if role_of[r["doc_id"]] == "user"
        }
        assert all_rows
