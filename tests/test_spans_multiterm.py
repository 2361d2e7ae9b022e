"""SpanMultiTermQueryWrapper analog: dict clauses in span queries.

A dict span clause names one MultiTermQuery pattern (prefix / wildcard /
fuzzy / regexp / term_range) and is rewritten against the term dictionary
into the clause's alternative terms — Lucene's
SpanMultiTermQueryWrapper(SCORING_SPAN_QUERY_REWRITE), i.e. a SpanOrQuery
of the expanded term spans [Lucene 10.2.0
spans/SpanMultiTermQueryWrapper.java]. Pins:

- a dict clause scores EXACTLY like the hand-expanded SpanOr clause (the
  rewrite is pure expansion, no scoring change), in ordered and unordered
  nears, span-or, span-first, span-range, and span-containing;
- an empty expansion makes the whole span query match nothing
  (SpanMatchNoDocs), not raise;
- TooManyClauses propagates from the rewrite;
- malformed dict specs are rejected loudly.
"""

import pytest

from cuvs_lucene_spark.multiterm import TooManyClauses, expand_terms
from cuvs_lucene_spark.query import IndexReader
from cuvs_lucene_spark.spans import (
    search_span_containing,
    search_span_first,
    search_span_near,
    search_span_or,
    search_span_range,
)


@pytest.fixture(scope="module")
def rd(spark, pos_index):
    return IndexReader(spark, pos_index)


def _hits(df):
    return [(r["conv_id"], r["turn_idx"], r["score"]) for r in df.collect()]


def _expansion_str(rd, **spec):
    """The hand-expanded SpanOr clause: expansion terms space-joined.

    Sound comparison target because the default analyzer is idempotent on
    dictionary entries (lowercase tokens re-analyze to themselves)."""
    terms = expand_terms(rd, None, **spec)
    assert terms, f"fixture vocabulary must match {spec}"
    return " ".join(terms)


class TestNearEquivalence:
    @pytest.mark.parametrize(
        "spec",
        [
            {"prefix": "wor"},
            {"wildcard": "s*l"},
            {"fuzzy": "worlz", "max_edits": 1},
            {"regexp": "sch.*"},
            {"term_range": ("sa", "so")},
        ],
    )
    @pytest.mark.parametrize("in_order", [True, False])
    def test_dict_clause_equals_hand_expansion(
        self, spark, pos_index, rd, spec, in_order
    ):
        manual = _expansion_str(rd, **spec)
        a = _hits(
            search_span_near(
                spark, pos_index, [dict(spec), "the"], slop=6, k=10,
                float32=False, in_order=in_order,
            )
        )
        b = _hits(
            search_span_near(
                spark, pos_index, [manual, "the"], slop=6, k=10,
                float32=False, in_order=in_order,
            )
        )
        assert a and a == b, (spec, in_order)

    def test_range_inclusivity_forwarded(self, spark, pos_index, rd):
        lo, hi = "said", "school"
        incl = expand_terms(rd, None, term_range=(lo, hi))
        excl = expand_terms(
            rd, None, term_range=(lo, hi),
            include_lower=False, include_upper=False,
        )
        assert set(incl) - set(excl) == {lo, hi}  # fixture has both terms
        a = _hits(
            search_span_near(
                spark, pos_index,
                [{"term_range": (lo, hi), "include_lower": False,
                  "include_upper": False}, "the"],
                slop=8, k=10, float32=False,
            )
        )
        b = _hits(
            search_span_near(
                spark, pos_index, [" ".join(excl), "the"], slop=8, k=10,
                float32=False,
            )
        )
        assert a == b

    def test_dict_only_query_routes_to_span_or(self, spark, pos_index, rd):
        manual = _expansion_str(rd, prefix="wor")
        a = _hits(
            search_span_near(
                spark, pos_index, [{"prefix": "wor"}], slop=3, k=10,
                float32=False,
            )
        )
        b = _hits(
            search_span_or(spark, pos_index, manual, k=10, float32=False)
        )
        assert a and a == b


class TestSpanOrDict:
    def test_dict_element_equals_expansion(self, spark, pos_index, rd):
        manual = _expansion_str(rd, prefix="s")
        a = _hits(
            search_span_or(
                spark, pos_index, [{"prefix": "s"}], k=10, float32=False
            )
        )
        b = _hits(search_span_or(spark, pos_index, manual, k=10, float32=False))
        assert a and a == b

    def test_mixed_str_and_dict(self, spark, pos_index, rd):
        manual = _expansion_str(rd, prefix="wor")
        a = _hits(
            search_span_or(
                spark, pos_index, [{"prefix": "wor"}, "school"], k=10,
                float32=False,
            )
        )
        b = _hits(
            search_span_or(
                spark, pos_index, manual + " school", k=10, float32=False
            )
        )
        assert a and a == b


class TestOtherSpanShapes:
    def test_span_first(self, spark, pos_index, rd):
        manual = _expansion_str(rd, prefix="wor")
        a = _hits(
            search_span_first(
                spark, pos_index, [{"prefix": "wor"}, "the"], end=30, slop=6,
                k=10, float32=False,
            )
        )
        b = _hits(
            search_span_first(
                spark, pos_index, [manual, "the"], end=30, slop=6, k=10,
                float32=False,
            )
        )
        assert a and a == b

    def test_span_range(self, spark, pos_index, rd):
        manual = _expansion_str(rd, prefix="wor")
        a = _hits(
            search_span_range(
                spark, pos_index, [{"prefix": "wor"}, "the"], start=2, end=40,
                slop=6, k=10, float32=False,
            )
        )
        b = _hits(
            search_span_range(
                spark, pos_index, [manual, "the"], start=2, end=40, slop=6,
                k=10, float32=False,
            )
        )
        assert a and a == b

    def test_span_containing(self, spark, pos_index, rd):
        manual = _expansion_str(rd, prefix="wor")
        a = _hits(
            search_span_containing(
                spark, pos_index, big=[{"prefix": "wor"}, "the"],
                little=["the"], big_slop=8, k=10, float32=False,
            )
        )
        b = _hits(
            search_span_containing(
                spark, pos_index, big=[manual, "the"], little=["the"],
                big_slop=8, k=10, float32=False,
            )
        )
        assert a and a == b


class TestDegeneratesAndGuards:
    def test_empty_expansion_matches_nothing(self, spark, pos_index):
        # SpanMatchNoDocs: no term starts with zzqq → whole query empty
        assert (
            search_span_near(
                spark, pos_index, [{"prefix": "zzqq"}, "the"], slop=6, k=10
            ).count()
            == 0
        )
        assert (
            search_span_or(spark, pos_index, [{"prefix": "zzqq"}], k=10).count()
            == 0
        )

    def test_too_many_clauses_propagates(self, spark, pos_index, rd):
        assert len(expand_terms(rd, None, prefix="s")) >= 2
        with pytest.raises(TooManyClauses):
            search_span_near(
                spark, pos_index,
                [{"prefix": "s", "max_expansions": 1}, "the"], slop=6, k=10,
            )

    @pytest.mark.parametrize(
        "bad",
        [
            {},  # no pattern
            {"prefix": "a", "wildcard": "b*"},  # two patterns
            {"max_expansions": 5},  # options only
            {"frobnicate": "x"},  # unknown key
        ],
    )
    def test_bad_spec_rejected(self, spark, pos_index, bad):
        with pytest.raises(ValueError, match="span clause"):
            search_span_near(spark, pos_index, [bad, "the"], slop=3, k=10)
