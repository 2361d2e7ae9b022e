"""SpanOr / SpanNot composition (SpanOrQuery + SpanNotQuery analogs).

Engine vs self-contained pandas oracles implementing the documented
semantics INDEPENDENTLY (pure-python loops, no shared code with
cuvs_lucene_spark.spans):

- SpanOr standalone: union of the terms' spans scored as one pseudo-term
  (pf = Σ tf over matched terms, idf = Σ idf over present terms),
- SpanOr inside a near: a clause matches at the UNION of its alternative
  terms' positions,
- SpanNot: candidate spans whose extent, widened by pre/post, overlaps any
  exclusion-term occurrence are dropped; exclusion terms contribute no idf.
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
from cuvs_lucene_spark.spans import (
    ordered_span_pf,
    search_span_first,
    search_span_near,
    search_span_or,
    unordered_span_pf,
)

K1, B = 1.2, 0.75


# ---------------------------------------------------------------------------
# independent loop specs
# ---------------------------------------------------------------------------


def loop_ordered_excl(pos_by_slot, slop, excl, pre, post):
    """Ordered loop spec + SpanNot veto: drop candidates with an exclusion
    position q in [start - pre, end + post)."""
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
        if not (ok and width <= slop):
            continue
        if any(p - pre <= e < prev_end + post for e in excl):
            continue
        freq += 1.0 / (1.0 + width)
    return freq


def loop_unordered_excl(pos_by_slot, slop, excl, pre, post):
    """Unordered brute-force spec + SpanNot veto per visited state."""
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
        if mx - mn - (n - 1) > slop:
            continue
        if any(mn - pre <= e < mx + 1 + post for e in excl):
            continue
        pf += 1.0 / (1.0 + (mx - mn))
    return pf


def _bm25(corpus_toks, per_doc_pf, idf_terms):
    """Shared scoring tail: [(conv, turn, score)] from a per-doc pf map and
    the idf-contributing term set."""
    docs = [(c, t, toks, len(toks)) for c, t, toks in corpus_toks]
    n_docs = sum(1 for *_, dl in docs if dl > 0)
    avgdl = sum(dl for *_, dl in docs) / n_docs
    df = {
        s: sum(1 for *_, toks, _ in docs if s in set(toks))
        for s in set(idf_terms)
    }
    present = [s for s in idf_terms if df[s] > 0]
    idf_sum = sum(
        math.log(1.0 + (n_docs - df[s] + 0.5) / (df[s] + 0.5)) for s in present
    )
    scored = []
    for doc_id, (c, t, toks, dl) in enumerate(docs):
        pf = per_doc_pf(doc_id, toks)
        if pf > 0.0:
            dl_d = float(
                dequantize_dl_np(quantize_dl_np(np.array([dl], dtype=np.int64)))[0]
            )
            score = idf_sum * pf / (pf + K1 * (1 - B + B * dl_d / avgdl))
            scored.append((doc_id, c, t, score))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return scored


def oracle_span_or(corpus_toks, terms, k):
    """SpanOr standalone: pf = total occurrences of any term."""
    def pf_of(_doc_id, toks):
        return float(sum(1 for w in toks if w in set(terms)))

    return [
        (c, t, s) for _, c, t, s in _bm25(corpus_toks, pf_of, terms)[:k]
    ]


def oracle_span_compose(
    corpus_toks, clause_alts, slop, k, in_order=True, excl_terms=(),
    pre=0, post=0, end=None,
):
    """Near over or-clauses with optional SpanNot exclusion and SpanFirst
    end bound, via the loop specs over per-clause UNION position lists."""
    docs = [(c, t, toks) for c, t, toks in corpus_toks]
    inc_terms = [t for c in clause_alts for t in c]

    def pf_of(_doc_id, toks):
        pos = [
            [i for i, w in enumerate(toks) if w in set(c)]
            for c in clause_alts
        ]
        if any(not p for p in pos):
            return 0.0
        excl = [i for i, w in enumerate(toks) if w in set(excl_terms)]
        if len(clause_alts) == 1:
            return float(
                sum(
                    1
                    for p in pos[0]
                    if (end is None or p + 1 <= end)
                    and not any(p - pre <= e < p + 1 + post for e in excl)
                )
            )
        if end is not None:
            # compose end bound with exclusion via the filtered loop specs
            if in_order:
                freq = 0.0
                for p in pos[0]:
                    prev_end, width, ok = p + 1, 0, True
                    for later in pos[1:]:
                        nxt = [x for x in later if x >= prev_end]
                        if not nxt:
                            ok = False
                            break
                        q = min(nxt)
                        width += q - prev_end
                        prev_end = q + 1
                    if not (ok and width <= slop and prev_end <= end):
                        continue
                    if any(p - pre <= e < prev_end + post for e in excl):
                        continue
                    freq += 1.0 / (1.0 + width)
                return freq
            raise NotImplementedError
        if in_order:
            return loop_ordered_excl(pos, slop, excl, pre, post)
        return loop_unordered_excl(pos, slop, excl, pre, post)

    return [
        (c, t, s) for _, c, t, s in _bm25(corpus_toks, pf_of, inc_terms)[:k]
    ]


# ---------------------------------------------------------------------------
# kernel specs
# ---------------------------------------------------------------------------


class TestExclusionKernelSpec:
    def test_hand_cases_ordered(self):
        # a@[0,10] b@[2,11]; excl@[1]: first span [0,3) contains 1 → dropped
        ps = [np.array([0, 10]), np.array([2, 11])]
        e = np.array([1])
        assert ordered_span_pf(ps, 3, excl=e) == pytest.approx(1.0)
        # pre widens backwards: excl@[12] kills span [10,12) only with post>=1
        e2 = np.array([12])
        assert ordered_span_pf(ps, 3, excl=e2) == pytest.approx(1 / 2 + 1)
        assert ordered_span_pf(ps, 3, excl=e2, post=1) == pytest.approx(1 / 2)
        # excl before the span start needs pre
        e3 = np.array([9])
        assert ordered_span_pf(ps, 3, excl=e3) == pytest.approx(1 / 2 + 1)
        assert ordered_span_pf(ps, 3, excl=e3, pre=1) == pytest.approx(1 / 2)
        # empty excl = no-op
        assert ordered_span_pf(ps, 3, excl=np.array([], dtype=np.int64)) == (
            ordered_span_pf(ps, 3)
        )

    def test_hand_cases_unordered(self):
        ps = [np.array([5]), np.array([2])]
        # state [2,6); excl@3 inside → dropped
        assert unordered_span_pf(ps, 3, excl=np.array([3])) == 0.0
        assert unordered_span_pf(ps, 3, excl=np.array([7])) == pytest.approx(1 / 4)
        assert unordered_span_pf(
            ps, 3, excl=np.array([7]), post=2
        ) == 0.0

    @pytest.mark.parametrize("seed", range(20))
    def test_ordered_excl_matches_loop_spec(self, seed):
        rng = random.Random(9000 + seed)
        n = rng.randint(2, 4)
        pos = [
            sorted(rng.sample(range(40), rng.randint(0, 8))) for _ in range(n)
        ]
        excl = sorted(rng.sample(range(40), rng.randint(0, 6)))
        slop = rng.randint(0, 12)
        pre, post = rng.randint(0, 3), rng.randint(0, 3)
        got = ordered_span_pf(
            [np.array(p, dtype=np.int64) for p in pos], slop,
            excl=np.array(excl, dtype=np.int64), pre=pre, post=post,
        )
        assert got == pytest.approx(loop_ordered_excl(pos, slop, excl, pre, post))

    @pytest.mark.parametrize("seed", range(20))
    def test_unordered_excl_matches_loop_spec(self, seed):
        rng = random.Random(9500 + seed)
        n = rng.randint(2, 4)
        sample = rng.sample(range(50), 18)
        pools, at = [], 0
        for i in range(n):
            take = rng.randint(1, 5)
            pools.append(sorted(sample[at:at + take]))
            at += take
        excl = sorted(rng.sample(range(50), rng.randint(0, 6)))
        slop = rng.randint(0, 12)
        pre, post = rng.randint(0, 3), rng.randint(0, 3)
        got = unordered_span_pf(
            [np.array(p, dtype=np.int64) for p in pools], slop,
            excl=np.array(excl, dtype=np.int64), pre=pre, post=post,
        )
        assert got == pytest.approx(
            loop_unordered_excl(pools, slop, excl, pre, post)
        )


# ---------------------------------------------------------------------------
# engine surfaces
# ---------------------------------------------------------------------------


def _hits(df):
    return [(r["conv_id"], r["turn_idx"], r["score"]) for r in df.collect()]


def _check(got, exp, ctx):
    assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in exp], ctx
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert abs(gs - es) < 1e-5, ctx


class TestSearchSpanOr:
    @pytest.mark.parametrize(
        "q", ["world school", "help the world", "world zzqq"]
    )
    def test_matches_oracle(self, spark, pos_index, corpus_toks, q):
        terms = tokenize_py(q)
        exp = oracle_span_or(corpus_toks, terms, 10)
        got = _hits(search_span_or(spark, pos_index, q, k=10, float32=False))
        _check(got, exp, q)

    def test_works_without_positions(self, spark, tiny_index, corpus_toks):
        # pf = Σ tf needs no positional payload — non-positional index OK
        exp = oracle_span_or(corpus_toks, ["world", "school"], 10)
        got = _hits(
            search_span_or(spark, tiny_index, "world school", k=10, float32=False)
        )
        _check(got, exp, "non-positional")

    def test_absent_alternative_is_noop(self, spark, pos_index):
        a = _hits(search_span_or(spark, pos_index, "world zzqq", k=10))
        b = _hits(search_span_or(spark, pos_index, "world", k=10))
        assert a == b

    def test_degenerates(self, spark, pos_index):
        assert search_span_or(spark, pos_index, "", k=10).count() == 0
        assert search_span_or(spark, pos_index, "zzqq", k=10).count() == 0
        assert search_span_or(spark, pos_index, "world", k=0).count() == 0

    def test_filter_composes(self, spark, pos_index):
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.query import IndexReader

        rows = search_span_or(
            spark, pos_index, "world school", k=10**9,
            filter_cond=F.col("role") == "user",
        ).collect()
        all_rows = search_span_or(
            spark, pos_index, "world school", k=10**9
        ).collect()
        rd = IndexReader(spark, pos_index)
        role_of = {
            r["doc_id"]: r["role"]
            for r in rd.cat.read_doc_dim(spark).select("doc_id", "role").collect()
        }
        assert {r["doc_id"] for r in rows} == {
            r["doc_id"] for r in all_rows if role_of[r["doc_id"]] == "user"
        }
        assert rows


class TestSpanOrInsideNear:
    @pytest.mark.parametrize(
        "clauses,slop,in_order",
        [
            (["world school", "help"], 6, True),
            (["the", "world help"], 4, True),
            (["world help", "school"], 5, False),
        ],
    )
    def test_matches_oracle(
        self, spark, pos_index, corpus_toks, clauses, slop, in_order
    ):
        alts = [tokenize_py(c) for c in clauses]
        exp = oracle_span_compose(
            corpus_toks, alts, slop, 10, in_order=in_order
        )
        got = _hits(
            search_span_near(
                spark, pos_index, clauses, slop=slop, k=10, float32=False,
                in_order=in_order,
            )
        )
        _check(got, exp, (clauses, slop, in_order))

    def test_single_alt_clauses_equal_plain_near(self, spark, pos_index):
        a = _hits(
            search_span_near(
                spark, pos_index, ["world", "school"], slop=4, k=10,
                float32=False,
            )
        )
        b = _hits(
            search_span_near(
                spark, pos_index, "world school", slop=4, k=10, float32=False
            )
        )
        assert a and a == b

    def test_absent_alternative_is_noop(self, spark, pos_index):
        a = _hits(
            search_span_near(
                spark, pos_index, ["world zzqq", "school"], slop=4, k=10
            )
        )
        b = _hits(
            search_span_near(spark, pos_index, "world school", slop=4, k=10)
        )
        assert a == b

    def test_or_clause_superset_of_either_term(self, spark, pos_index):
        uni = {
            r["doc_id"]
            for r in search_span_near(
                spark, pos_index, ["world school", "help"], slop=8, k=10**9
            ).collect()
        }
        for t in ("world", "school"):
            sub = {
                r["doc_id"]
                for r in search_span_near(
                    spark, pos_index, [t, "help"], slop=8, k=10**9
                ).collect()
            }
            assert sub <= uni

    def test_guards(self, spark, pos_index):
        with pytest.raises(ValueError, match="repeated"):
            search_span_near(
                spark, pos_index, ["world", "world school"], slop=2
            ).collect()
        with pytest.raises(ValueError, match="no terms"):
            search_span_near(spark, pos_index, ["world", "!!!"], slop=2)

    def test_single_or_clause_routes_to_span_or(self, spark, pos_index):
        a = _hits(
            search_span_near(
                spark, pos_index, ["world school"], slop=3, k=10, float32=False
            )
        )
        b = _hits(
            search_span_or(spark, pos_index, "world school", k=10, float32=False)
        )
        assert a and a == b


class TestSpanNot:
    @pytest.mark.parametrize(
        "q,slop,excl,pre,post,in_order",
        [
            ("world school", 6, "the", 0, 0, True),
            ("world school", 6, "the", 1, 2, True),
            ("the world", 8, "school help", 0, 1, True),
            ("world school", 5, "the", 0, 1, False),
            ("world", 0, "school", 2, 2, True),  # single-clause SpanNot
        ],
    )
    def test_matches_oracle(
        self, spark, pos_index, corpus_toks, q, slop, excl, pre, post, in_order
    ):
        alts = [[t] for t in tokenize_py(q)]
        exp = oracle_span_compose(
            corpus_toks, alts, slop, 10, in_order=in_order,
            excl_terms=tokenize_py(excl), pre=pre, post=post,
        )
        got = _hits(
            search_span_near(
                spark, pos_index, q, slop=slop, k=10, float32=False,
                in_order=in_order, exclude=excl, pre=pre, post=post,
            )
        )
        _check(got, exp, (q, slop, excl, pre, post, in_order))

    def test_absent_exclusion_is_noop(self, spark, pos_index):
        a = _hits(
            search_span_near(
                spark, pos_index, "world school", slop=4, k=10, exclude="zzqq"
            )
        )
        b = _hits(
            search_span_near(spark, pos_index, "world school", slop=4, k=10)
        )
        assert a and a == b

    def test_exclusion_drops_no_idf(self, spark, pos_index):
        """SpanNot scores use only include-term idfs: an exclusion that
        never overlaps leaves scores EXACTLY equal to the plain near."""
        # 'country' occurs in the corpus; pick docs where it never sits
        # inside a world..school span by comparing only surviving docs
        plain = {
            r["doc_id"]: r["score"]
            for r in search_span_near(
                spark, pos_index, "world school", slop=4, k=10**9,
                float32=False,
            ).collect()
        }
        notq = {
            r["doc_id"]: r["score"]
            for r in search_span_near(
                spark, pos_index, "world school", slop=4, k=10**9,
                float32=False, exclude="help",
            ).collect()
        }
        assert notq  # non-degenerate
        for d, s in notq.items():
            # surviving docs with unchanged pf must keep the same score —
            # true at least for docs where country is absent entirely
            assert d in plain
            assert s <= plain[d] + 1e-12

    def test_spanfirst_composes_with_exclusion(
        self, spark, pos_index, corpus_toks
    ):
        alts = [[t] for t in tokenize_py("world school")]
        exp = oracle_span_compose(
            corpus_toks, alts, 5, 10, excl_terms=["the"], pre=0, post=1,
            end=25,
        )
        got = _hits(
            search_span_first(
                spark, pos_index, "world school", end=25, slop=5, k=10,
                float32=False, exclude="the", post=1,
            )
        )
        _check(got, exp, "spanfirst+not")

    def test_guards(self, spark, pos_index):
        with pytest.raises(ValueError, match="pre/post"):
            search_span_near(
                spark, pos_index, "world school", slop=2, exclude="the", pre=-1
            )


# ---------------------------------------------------------------------------
# span leaves inside boolean trees (SpanQuery nests in BooleanQuery)
# ---------------------------------------------------------------------------


class TestSpanInBoolean:
    def test_lone_must_span_equals_search_span_near(self, spark, pos_index):
        from cuvs_lucene_spark.booleanq import Q, search_boolean

        tree = Q.boolean(must=[Q.span_near("world school", slop=4)])
        a = _hits(search_boolean(spark, pos_index, tree, k=10, float32=False))
        b = _hits(
            search_span_near(
                spark, pos_index, "world school", slop=4, k=10, float32=False
            )
        )
        assert a and a == b

    def test_boosted_span_leaf_scales(self, spark, pos_index):
        from cuvs_lucene_spark.booleanq import Q, search_boolean

        base = {
            r["doc_id"]: float(r["score"])
            for r in search_boolean(
                spark, pos_index,
                Q.boolean(must=[Q.span_near("world school", slop=4)]),
                k=1000, float32=False,
            ).collect()
        }
        boosted = {
            r["doc_id"]: float(r["score"])
            for r in search_boolean(
                spark, pos_index,
                Q.boolean(
                    must=[Q.span_near("world school", slop=4, boost=2.5)]
                ),
                k=1000, float32=False,
            ).collect()
        }
        assert base
        for d, s in base.items():
            assert boosted[d] == pytest.approx(2.5 * s, rel=1e-12)

    def test_span_or_term_scores_add(self, spark, pos_index):
        from cuvs_lucene_spark.booleanq import Q, search_boolean
        from cuvs_lucene_spark.query import search

        tree = Q.boolean(
            should=[Q.span_near("world school", slop=4), Q.term("help")]
        )
        both = {
            r["doc_id"]: float(r["score"])
            for r in search_boolean(
                spark, pos_index, tree, k=100000, float32=False
            ).collect()
        }
        sspan = {
            r["doc_id"]: float(r["score"])
            for r in search_span_near(
                spark, pos_index, "world school", slop=4, k=1000,
                float32=False,
            ).collect()
        }
        sterm = {
            r["doc_id"]: float(r["score"])
            for r in search(
                spark, pos_index, "help", k=100000, float32=False
            ).collect()
        }
        assert sspan
        for d, ss in sspan.items():
            assert both[d] == pytest.approx(ss + sterm.get(d, 0.0), rel=1e-12)

    def test_span_in_must_not_removes_span_docs(self, spark, pos_index):
        from cuvs_lucene_spark.booleanq import Q, search_boolean
        from cuvs_lucene_spark.query import search

        tree = Q.boolean(
            must=[Q.term("world")],
            must_not=[Q.span_near("world school", slop=4)],
        )
        got = {
            r["doc_id"]
            for r in search_boolean(spark, pos_index, tree, k=100000).collect()
        }
        world = {
            r["doc_id"]
            for r in search(spark, pos_index, "world", k=100000).collect()
        }
        span = {
            r["doc_id"]
            for r in search_span_near(
                spark, pos_index, "world school", slop=4, k=100000
            ).collect()
        }
        assert span  # non-degenerate
        assert got == world - span

    def test_count_and_explain_with_span_leaf(self, spark, pos_index):
        from cuvs_lucene_spark.booleanq import (
            Q, count_boolean, explain_boolean, search_boolean,
        )

        tree = Q.boolean(
            must=[Q.span_near("world school", slop=4)],
            should=[Q.term("help")],
        )
        res = search_boolean(
            spark, pos_index, tree, k=100000, float32=False
        ).collect()
        assert count_boolean(spark, pos_index, tree) == len(res) > 0
        top = res[0]
        exp = explain_boolean(spark, pos_index, tree, int(top["doc_id"]))
        assert exp["matched"]
        assert exp["score"] == pytest.approx(float(top["score"]), rel=1e-12)
        # a non-matching doc: one where the span leaf misses
        from cuvs_lucene_spark.query import IndexReader

        rd = IndexReader(spark, pos_index)
        all_ids = {
            r["doc_id"]
            for r in rd.cat.read_doc_dim(spark).select("doc_id").collect()
        }
        miss = sorted(all_ids - {r["doc_id"] for r in res})[0]
        exp2 = explain_boolean(spark, pos_index, tree, miss)
        assert not exp2["matched"] and exp2["score"] == 0.0

    def test_filtered_span_leaf_knobs_carry(self, spark, pos_index):
        """A span leaf with exclude/end knobs equals the standalone
        filtered span surface."""
        from cuvs_lucene_spark.booleanq import Q, search_boolean

        tree = Q.boolean(
            must=[
                Q.span_near(
                    "world school", slop=5, exclude="the", post=0, end=200
                )
            ]
        )
        a = _hits(search_boolean(spark, pos_index, tree, k=10, float32=False))
        b = _hits(
            search_span_first(
                spark, pos_index, "world school", end=200, slop=5, k=10,
                float32=False, exclude="the", post=0,
            )
        )
        assert a and a == b

    def test_absent_span_clause_never_matches(self, spark, pos_index):
        from cuvs_lucene_spark.booleanq import Q, search_boolean
        from cuvs_lucene_spark.query import search

        tree = Q.boolean(
            should=[Q.span_near("world zzqq", slop=4), Q.term("help")]
        )
        a = {
            r["doc_id"]
            for r in search_boolean(spark, pos_index, tree, k=100000).collect()
        }
        b = {
            r["doc_id"]
            for r in search(spark, pos_index, "help", k=100000).collect()
        }
        assert a == b and a

    def test_single_term_span_rewrites_to_term(self):
        from cuvs_lucene_spark.booleanq import Q

        assert Q.span_near("world").kind == "term"
        with pytest.raises(ValueError, match="or-clause"):
            Q.span_near(["world school"])
        with pytest.raises(ValueError, match="repeated"):
            Q.span_near("world world")


# ---------------------------------------------------------------------------
# SpanPositionRangeQuery: start/end bounds on the span extent
# ---------------------------------------------------------------------------


class TestSpanRangeKernel:
    @pytest.mark.parametrize("seed", range(15))
    def test_ordered_min_start_matches_loop_spec(self, seed):
        rng = random.Random(11000 + seed)
        n = rng.randint(2, 4)
        pos = [
            sorted(rng.sample(range(40), rng.randint(0, 8))) for _ in range(n)
        ]
        slop = rng.randint(0, 10)
        start = rng.randint(0, 30)
        end = rng.choice([None, rng.randint(1, 45)])

        def loop_spec():
            freq = 0.0
            for p in pos[0]:
                prev_end, width, ok = p + 1, 0, True
                for later in pos[1:]:
                    nxt = [x for x in later if x >= prev_end]
                    if not nxt:
                        ok = False
                        break
                    q = min(nxt)
                    width += q - prev_end
                    prev_end = q + 1
                if (
                    ok and width <= slop and p >= start
                    and (end is None or prev_end <= end)
                ):
                    freq += 1.0 / (1.0 + width)
            return freq

        got = ordered_span_pf(
            [np.array(p, dtype=np.int64) for p in pos], slop,
            min_start=start, max_end=end,
        )
        assert got == pytest.approx(loop_spec())

    @pytest.mark.parametrize("seed", range(15))
    def test_unordered_min_start_matches_loop_spec(self, seed):
        rng = random.Random(12000 + seed)
        n = rng.randint(2, 3)
        sample = rng.sample(range(50), 14)
        pools, at = [], 0
        for _ in range(n):
            take = rng.randint(1, 5)
            pools.append(sorted(sample[at:at + take]))
            at += take
        slop = rng.randint(0, 10)
        start = rng.randint(0, 40)

        import itertools

        def loop_spec():
            pf = 0.0
            for combo in itertools.product(*[range(len(p)) for p in pools]):
                consumed = [
                    pools[t][i - 1] for t, i in enumerate(combo) if i > 0
                ]
                currents = [pools[t][i] for t, i in enumerate(combo)]
                if consumed and max(consumed) >= min(currents):
                    continue
                mn, mx = min(currents), max(currents)
                if mx - mn - (n - 1) <= slop and mn >= start:
                    pf += 1.0 / (1.0 + (mx - mn))
            return pf

        got = unordered_span_pf(
            [np.array(p, dtype=np.int64) for p in pools], slop,
            min_start=start,
        )
        assert got == pytest.approx(loop_spec())


class TestSearchSpanRange:
    def test_start_zero_equals_span_first(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_range

        a = _hits(
            search_span_range(
                spark, pos_index, "world school", start=0, end=30, slop=4,
                k=10, float32=False,
            )
        )
        b = _hits(
            search_span_first(
                spark, pos_index, "world school", end=30, slop=4, k=10,
                float32=False,
            )
        )
        assert a == b

    def test_unbounded_equals_span_near(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_range

        a = _hits(
            search_span_range(
                spark, pos_index, "world school", start=0, end=None, slop=4,
                k=10, float32=False,
            )
        )
        b = _hits(
            search_span_near(
                spark, pos_index, "world school", slop=4, k=10, float32=False
            )
        )
        assert a and a == b

    def test_matches_corpus_oracle(self, spark, pos_index, corpus_toks):
        from cuvs_lucene_spark.spans import search_span_range

        start, end, slop = 3, 30, 4

        def pf_of(_doc_id, toks):
            pos = [
                [i for i, w in enumerate(toks) if w == t]
                for t in ("world", "school")
            ]
            if any(not p for p in pos):
                return 0.0
            freq = 0.0
            for p in pos[0]:
                nxt = [x for x in pos[1] if x >= p + 1]
                if not nxt:
                    continue
                q = min(nxt)
                width = q - p - 1
                if width <= slop and p >= start and q + 1 <= end:
                    freq += 1.0 / (1.0 + width)
            return freq

        exp = [
            (c, t, s)
            for _, c, t, s in _bm25(
                corpus_toks, pf_of, ["world", "school"]
            )[:10]
        ]
        got = _hits(
            search_span_range(
                spark, pos_index, "world school", start=start, end=end,
                slop=slop, k=10, float32=False,
            )
        )
        _check(got, exp, "span_range")

    def test_range_window_monotone(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_range

        narrow = {
            r["doc_id"]
            for r in search_span_range(
                spark, pos_index, "world school", start=5, end=20, slop=4,
                k=10**9,
            ).collect()
        }
        wide = {
            r["doc_id"]
            for r in search_span_range(
                spark, pos_index, "world school", start=2, end=40, slop=4,
                k=10**9,
            ).collect()
        }
        assert narrow <= wide

    def test_provably_empty_window(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_range

        # 2-clause span needs >= 2 positions: start=9, end=10 can't fit
        assert (
            search_span_range(
                spark, pos_index, "world school", start=9, end=10, slop=4
            ).count()
            == 0
        )
        with pytest.raises(ValueError, match="start"):
            search_span_range(spark, pos_index, "world school", start=-1)

    def test_single_term_start_bound(self, spark, pos_index, corpus_toks):
        from cuvs_lucene_spark.spans import search_span_range

        start = 6

        def pf_of(_doc_id, toks):
            return float(
                sum(1 for i, w in enumerate(toks) if w == "world" and i >= start)
            )

        exp = [
            (c, t, s)
            for _, c, t, s in _bm25(corpus_toks, pf_of, ["world"])[:10]
        ]
        got = _hits(
            search_span_range(
                spark, pos_index, "world", start=start, k=10, float32=False
            )
        )
        _check(got, exp, "term start bound")

    def test_start_bound_monotone_and_unfiltered_degeneration(
        self, spark, pos_index
    ):
        from cuvs_lucene_spark.query import search_phrase
        from cuvs_lucene_spark.spans import search_span_range

        lo = search_span_range(
            spark, pos_index, "world", start=8, k=10**9
        ).count()
        hi = search_span_range(
            spark, pos_index, "world", start=0, k=10**9
        ).count()
        assert lo <= hi and hi > 0
        # start=0/end=None single term = the bare term span = phrase scoring
        a = [
            (r["doc_id"], r["score"])
            for r in search_span_range(
                spark, pos_index, "world", start=0, k=10
            ).collect()
        ]
        b = [
            (r["doc_id"], r["score"])
            for r in search_phrase(spark, pos_index, "world", k=10).collect()
        ]
        assert a == b

    def test_highlight_respects_start_bound(self, spark, pos_index, tiny_df):
        from cuvs_lucene_spark.highlight import highlight_spans

        rows = highlight_spans(
            spark, pos_index, tiny_df, "world", start=6, k=10,
            window_size=10, lead=2,
        ).collect()
        assert rows
        for r in rows:
            # the window anchors at the first SURVIVING position, which the
            # start bound forces to >= 6; with lead=2 start_pos >= 4
            assert r["start_pos"] >= 4
            assert "<em>" in r["snippet_tokens"]


# ---------------------------------------------------------------------------
# SpanContaining / SpanWithin (big spans enclosing little spans)
# ---------------------------------------------------------------------------


def loop_chains(pos_by_slot, slop):
    """Independent ordered-chain collector (minimal stretch), test-only."""
    chains = []
    for p in pos_by_slot[0]:
        prev_end, chain, width, ok = p + 1, [p], 0, True
        for later in pos_by_slot[1:]:
            nxt = [x for x in later if x >= prev_end]
            if not nxt:
                ok = False
                break
            q = min(nxt)
            width += q - prev_end
            chain.append(q)
            prev_end = q + 1
        if ok and width <= slop:
            chains.append(chain)
    return chains


def oracle_span_contain(
    corpus_toks, big_terms, little_terms, big_slop, little_slop, mode, k
):
    """[(conv, turn, score)] for containing/within via the loop chains."""
    nb, nl = len(big_terms), len(little_terms)

    def pf_of(_doc_id, toks):
        bpos = [[i for i, w in enumerate(toks) if w == t] for t in big_terms]
        lpos = [[i for i, w in enumerate(toks) if w == t] for t in little_terms]
        if any(not p for p in (*bpos, *lpos)):
            return 0.0
        bch = loop_chains(bpos, big_slop)
        lch = loop_chains(lpos, little_slop)
        lit = [(c[0], c[-1] + 1) for c in lch]
        bigi = [(c[0], c[-1] + 1) for c in bch]
        pf = 0.0
        if mode == "containing":
            for bs, be in bigi:
                if any(bs <= ls and le <= be for ls, le in lit):
                    pf += 1.0 / (1.0 + (be - bs - nb))
        else:
            for ls, le in lit:
                if any(bs <= ls and le <= be for bs, be in bigi):
                    pf += 1.0 / (1.0 + (le - ls - nl))
        return pf

    idf_terms = list(dict.fromkeys(big_terms + little_terms))
    return [
        (c, t, s) for _, c, t, s in _bm25(corpus_toks, pf_of, idf_terms)[:k]
    ]


class TestSpanContain:
    @pytest.mark.parametrize(
        "big,little,bs,ls,mode",
        [
            ("the world", "world", 4, 0, "containing"),
            ("the world", "world", 4, 0, "within"),
            ("the school", "school", 6, 0, "containing"),
            ("the help world", "help world", 8, 3, "containing"),
            ("the help world", "help world", 8, 3, "within"),
        ],
    )
    def test_matches_oracle(
        self, spark, pos_index, corpus_toks, big, little, bs, ls, mode
    ):
        from cuvs_lucene_spark.spans import (
            search_span_containing, search_span_within,
        )

        fn = search_span_containing if mode == "containing" else search_span_within
        exp = oracle_span_contain(
            corpus_toks, tokenize_py(big), tokenize_py(little), bs, ls,
            mode, 10,
        )
        got = _hits(
            fn(
                spark, pos_index, big, little, big_slop=bs, little_slop=ls,
                k=10, float32=False,
            )
        )
        _check(got, exp, (big, little, bs, ls, mode))

    def test_containing_docs_subset_of_big_near(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_containing

        cont = {
            r["doc_id"]
            for r in search_span_containing(
                spark, pos_index, "the world", "world", big_slop=4, k=10**9
            ).collect()
        }
        big = {
            r["doc_id"]
            for r in search_span_near(
                spark, pos_index, "the world", slop=4, k=10**9
            ).collect()
        }
        assert cont and cont <= big

    def test_within_docs_subset_of_containing_docs(self, spark, pos_index):
        """Both sides filter on the same (big, little) pairs existing, so
        the DOC sets coincide; only the weights differ."""
        from cuvs_lucene_spark.spans import (
            search_span_containing, search_span_within,
        )

        a = {
            r["doc_id"]
            for r in search_span_containing(
                spark, pos_index, "the world", "world", big_slop=4, k=10**9
            ).collect()
        }
        b = {
            r["doc_id"]
            for r in search_span_within(
                spark, pos_index, "the world", "world", big_slop=4, k=10**9
            ).collect()
        }
        assert a and a == b

    def test_guards_and_degenerates(self, spark, pos_index):
        from cuvs_lucene_spark.spans import search_span_containing

        with pytest.raises(ValueError, match="repeated"):
            search_span_containing(
                spark, pos_index, "world world", "school"
            ).collect()
        with pytest.raises(ValueError, match="slop"):
            search_span_containing(
                spark, pos_index, "the world", "world", big_slop=-1
            )
        # absent little term: containment provably empty
        assert (
            search_span_containing(
                spark, pos_index, "the world", "zzqq", big_slop=4
            ).count()
            == 0
        )
        assert (
            search_span_containing(spark, pos_index, "", "world").count() == 0
        )

    def test_or_alternatives_in_big(self, spark, pos_index, corpus_toks):
        """A big clause with SpanOr alternatives: union positions."""
        from cuvs_lucene_spark.spans import search_span_containing

        # oracle: big clause 1 = {the}, clause 2 = {world, school} union
        def pf_of(_doc_id, toks):
            bpos = [
                [i for i, w in enumerate(toks) if w == "the"],
                [i for i, w in enumerate(toks) if w in ("world", "school")],
            ]
            lpos = [[i for i, w in enumerate(toks) if w == "world"]]
            if any(not p for p in (*bpos, *lpos)):
                return 0.0
            bch = loop_chains(bpos, 5)
            lit = [(c[0], c[-1] + 1) for c in loop_chains(lpos, 0)]
            pf = 0.0
            for b in bch:
                bs_, be = b[0], b[-1] + 1
                if any(bs_ <= ls and le <= be for ls, le in lit):
                    pf += 1.0 / (1.0 + (be - bs_ - 2))
            return pf

        idf_terms = ["the", "world", "school"]
        exp = [
            (c, t, s)
            for _, c, t, s in _bm25(corpus_toks, pf_of, idf_terms)[:10]
        ]
        got = _hits(
            search_span_containing(
                spark, pos_index, ["the", "world school"], "world",
                big_slop=5, k=10, float32=False,
            )
        )
        _check(got, exp, "or-alternatives big")


# ---------------------------------------------------------------------------
# liveDocs mask on the positional/boolean/synonym surfaces
# ---------------------------------------------------------------------------


def _near(toks, a, b, slop):
    return any(
        x == a and b in toks[i + 1:i + 2 + slop] for i, x in enumerate(toks)
    )


# entry point → its query's match predicate over a doc's tokens; the boolean
# tree is a phrase leaf OR a span leaf, so both leaf joins run
LIVE_MASK_CASES = {
    "search_boolean": lambda t: _near(t, "the", "world", 0)
    or _near(t, "help", "the", 2),
    "count_boolean": lambda t: _near(t, "the", "world", 0)
    or _near(t, "help", "the", 2),
    "search_span_near": lambda t: _near(t, "the", "world", 2),
    "search_span_or": lambda t: "world" in t or "school" in t,
    "search_synonym": lambda t: "world" in t or "school" in t,
}


class TestLiveMaskAfterDeletes:
    """One committed delete batch on a copy of the positional index, then
    every entry point must return exactly the live, filter-accepted docs
    matching its query: no tombstoned key, no doc outside filter_cond."""

    @pytest.fixture(scope="class")
    def deleted(self, spark, pos_index, tiny_pdf, tmp_path_factory):
        import shutil

        from cuvs_lucene_spark.operators.deletes import delete_docs

        d = str(tmp_path_factory.mktemp("idx") / "pos_deleted")
        shutil.copytree(pos_index, d)
        pdf = tiny_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        world = pdf[pdf["text"].map(lambda s: "world" in tokenize_py(s))]
        victims = [
            (r.conv_id, int(r.turn_idx)) for r in world.iloc[::2].itertuples()
        ]
        keys = spark.createDataFrame(victims, "conv_id string, turn_idx int")
        assert delete_docs(spark, d, keys) == len(victims)
        role = {
            (r.conv_id, int(r.turn_idx)): r.role for r in pdf.itertuples()
        }
        return d, set(victims), role

    @pytest.mark.parametrize("entry", sorted(LIVE_MASK_CASES))
    def test_deleted_and_filtered_docs_never_return(
        self, spark, deleted, corpus_toks, entry
    ):
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.booleanq import Q, count_boolean, search_boolean
        from cuvs_lucene_spark.query import search_synonym

        d, victims, role = deleted
        user = F.col("role") == "user"
        tree = Q.boolean(
            should=[Q.phrase("the world"), Q.span_near("help the", slop=2)]
        )
        calls = {
            "search_boolean": lambda: search_boolean(
                spark, d, tree, k=10**9, filter_cond=user),
            "count_boolean": lambda: count_boolean(
                spark, d, tree, filter_cond=user),
            "search_span_near": lambda: search_span_near(
                spark, d, ["the", "world"], slop=2, k=10**9, filter_cond=user),
            "search_span_or": lambda: search_span_or(
                spark, d, "world school", k=10**9, filter_cond=user),
            "search_synonym": lambda: search_synonym(
                spark, d, "world school", k=10**9, filter_cond=user),
        }
        match = LIVE_MASK_CASES[entry]
        want = {
            (c, t) for c, t, toks in corpus_toks
            if match(toks) and role[(c, t)] == "user" and (c, t) not in victims
        }
        assert want and any(
            match(toks) and role[(c, t)] == "user" for c, t, toks in corpus_toks
            if (c, t) in victims
        ), "fixture must delete docs the query would otherwise return"
        got = calls[entry]()
        if entry == "count_boolean":
            assert got == len(want)
            return
        keys = {(r["conv_id"], int(r["turn_idx"])) for r in got.collect()}
        assert not keys & victims
        assert all(role[key] == "user" for key in keys)
        assert keys == want
