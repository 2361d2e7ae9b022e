"""Classic query-string parser: AST shape, classic operator semantics,
compile-time expansion, and engine equivalence against the dedicated
executors (search / search_boolean / search_multiterm / search_phrase).

Reference analog: the classic QueryParser surface Lucene exposes over the
reference's codec [Lucene-10.2.0, via pom.xml:42-43]; operator semantics
follow QueryParserBase.addClause (left-to-right clause marking, no
precedence)."""

from collections import Counter

import pytest

from cuvs_lucene_spark.booleanq import Q, search_boolean
from cuvs_lucene_spark.qparser import (
    ParseError,
    compile_query,
    parse_query,
    search_qstring,
)
from cuvs_lucene_spark.query import IndexReader, search, search_phrase


@pytest.fixture(scope="module")
def common_bigram(tiny_pdf):
    """A distinct-token bigram hitting 3–30 docs in the tiny tier — few
    enough that k=1000 retrieves EVERY match (the set tests below need the
    complete match set), distinct so the sloppy-leaf test is legal."""
    from cuvs_lucene_spark.analysis import tokenize_py

    docs_with = Counter()
    for text in tiny_pdf["text"]:
        toks = tokenize_py(text)
        docs_with.update({(a, b) for a, b in zip(toks, toks[1:]) if a != b})
    pick = next(
        (p for p, n in docs_with.most_common() if 3 <= n <= 30), None
    )
    assert pick is not None
    return f"{pick[0]} {pick[1]}"


def rows(df):
    return [(r["doc_id"], round(float(r["score"]), 5)) for r in df.collect()]


# ---------------------------------------------------------------------------
# parse-only (no Spark)
# ---------------------------------------------------------------------------


class TestParse:
    def test_default_or_clauses(self):
        n = parse_query("hello world")
        assert n.kind == "bool" and len(n.should) == 2 and not n.must
        assert [c.text for c in n.should] == ["hello", "world"]

    def test_single_term_unwraps(self):
        n = parse_query("hello")
        assert n.kind == "term" and n.text == "hello"

    def test_and_upgrades_both_neighbours(self):
        n = parse_query("a AND b")
        assert [c.text for c in n.must] == ["a", "b"] and not n.should

    def test_classic_and_or_mix(self):
        # the classic parser is NOT precedence-based: a AND b OR c
        # → +a +b c (QueryParserBase.addClause, left to right)
        n = parse_query("a AND b OR c")
        assert [c.text for c in n.must] == ["a", "b"]
        assert [c.text for c in n.should] == ["c"]

    def test_plus_minus_not(self):
        n = parse_query("+a -b c NOT d !e")
        assert [c.text for c in n.must] == ["a"]
        assert [c.text for c in n.must_not] == ["b", "d", "e"]
        assert [c.text for c in n.should] == ["c"]

    def test_default_operator_and(self):
        n = parse_query("a b", default_operator="and")
        assert [c.text for c in n.must] == ["a", "b"]
        n = parse_query("a OR b", default_operator="and")
        assert [c.text for c in n.should] == ["a", "b"]
        # OR downgrades the previous MUST back to SHOULD under q.op=AND
        n = parse_query("a b OR c", default_operator="and")
        assert [c.text for c in n.must] == ["a"]
        assert [c.text for c in n.should] == ["b", "c"]

    def test_groups_and_boosts(self):
        n = parse_query("(a b)^0.5 c^2")
        grp, c = n.should
        assert grp.kind == "bool" and grp.boost == 0.5
        assert c.text == "c" and c.boost == 2.0

    def test_phrase_and_slop(self):
        n = parse_query('"Big Data now"~3')
        assert n.kind == "phrase" and n.text == "big data now" and n.slop == 3
        # one-token phrase degrades to a term
        assert parse_query('"hello"').kind == "term"

    def test_multiterm_leaves(self):
        assert parse_query("mer*").kind == "wildcard"
        assert parse_query("sc?n").kind == "wildcard"
        f = parse_query("fuzzi~1")
        assert f.kind == "fuzzy" and f.max_edits == 1
        assert parse_query("fuzzi~").max_edits == 2
        assert parse_query("exact~0").kind == "term"
        r = parse_query("/mer(ge|ging)/")
        assert r.kind == "regexp" and r.text == "mer(ge|ging)"

    def test_field_prefix_recorded(self):
        n = parse_query("text:hello tool:search")
        assert n.should[0].field == "text" and n.should[1].field == "tool"

    def test_analyzer_splits_bare_word(self):
        n = parse_query("foo-bar")  # analyzer splits on non-alnum
        assert n.kind == "bool" and [c.text for c in n.should] == ["foo", "bar"]

    @pytest.mark.parametrize(
        "bad",
        ["", "   ", "(a", "a)", "a AND", "AND a", "a OR OR b", "*lead",
         '"', '""'],
    )
    def test_parse_errors(self, bad):
        with pytest.raises(ParseError):
            parse_query(bad)


# ---------------------------------------------------------------------------
# engine equivalence (tiny index)
# ---------------------------------------------------------------------------


class TestEquivalence:
    def test_or_equals_search(self, spark, tiny_index):
        a = rows(search_qstring(spark, tiny_index, "merge people time", k=10))
        b = rows(search(spark, tiny_index, "merge people time", k=10))
        assert a == b and a

    def test_and_equals_search(self, spark, tiny_index):
        a = rows(search_qstring(spark, tiny_index, "the AND world", k=10))
        b = rows(search(spark, tiny_index, "the world", k=10, mode="and"))
        assert a == b and a

    def test_must_not_equals_exclude(self, spark, tiny_index):
        a = rows(search_qstring(spark, tiny_index, "merge people -time", k=10))
        b = rows(
            search(spark, tiny_index, "merge people", k=10, exclude="time")
        )
        assert a == b and a

    def test_nested_equals_manual_tree(self, spark, tiny_index):
        s = "(the AND (work OR world^2)) NOT school"
        # classic semantics: the unmarked group is SHOULD (effective msm=1
        # makes it binding — same matches as MUST, and same scores)
        tree = Q.boolean(
            should=[
                Q.boolean(
                    must=[
                        Q.term("the"),
                        Q.boolean(
                            should=[Q.term("work"), Q.term("world", boost=2.0)]
                        ),
                    ]
                )
            ],
            must_not=[Q.term("school")],
        )
        # the parsed tree compiles to the same Q value
        rd = IndexReader(spark, tiny_index)
        assert compile_query(s, rd) == tree
        a = rows(search_qstring(spark, tiny_index, s, k=10))
        b = rows(search_boolean(spark, tiny_index, tree, k=10))
        assert a == b and a

    def test_wildcard_equals_multiterm(self, spark, tiny_index):
        from cuvs_lucene_spark.multiterm import search_multiterm

        a = rows(search_qstring(spark, tiny_index, "wor*", k=10))
        b = rows(search_multiterm(spark, tiny_index, wildcard="wor*", k=10))
        assert a == b and a

    def test_fuzzy_equals_multiterm(self, spark, tiny_index):
        from cuvs_lucene_spark.multiterm import search_multiterm

        a = rows(search_qstring(spark, tiny_index, "world~1", k=10))
        b = rows(
            search_multiterm(spark, tiny_index, fuzzy="world", max_edits=1, k=10)
        )
        assert a == b and a

    def test_range_equals_multiterm(self, spark, tiny_index):
        from cuvs_lucene_spark.multiterm import search_multiterm

        a = rows(search_qstring(spark, tiny_index, "[sa TO so}", k=10))
        b = rows(
            search_multiterm(
                spark, tiny_index, term_range=("sa", "so"),
                include_upper=False, k=10,
            )
        )
        assert a == b and a
        # open lower bound + exclusive lower behave per the flags
        c = rows(search_qstring(spark, tiny_index, "{sa TO so]", k=10))
        d = rows(
            search_multiterm(
                spark, tiny_index, term_range=("sa", "so"),
                include_lower=False, k=10,
            )
        )
        assert c == d

    def test_range_parse_errors(self, spark, tiny_index):
        from cuvs_lucene_spark.qparser import ParseError, parse_query

        for bad in ["[* TO *]", "[a b TO c]", "[x TO]", "{oops"]:
            with pytest.raises(ParseError):
                parse_query(bad)
        n = parse_query("text:[* TO mzz}")
        assert (n.kind, n.lower, n.upper, n.inc_hi, n.field) == (
            "range", None, "mzz", False, "text",
        )

    def test_absent_expansion_matches_nothing(self, spark, tiny_index):
        assert search_qstring(spark, tiny_index, "zzzqx*", k=10).count() == 0
        # ...but dropped harmlessly from a disjunction
        a = rows(search_qstring(spark, tiny_index, "zzzqx* world", k=10))
        b = rows(search(spark, tiny_index, "world", k=10))
        assert a == b and a

    def test_cross_field_clause_rejected(self, spark, tiny_index):
        rd = IndexReader(spark, tiny_index)
        with pytest.raises(ParseError, match="field"):
            compile_query("tool:merge", rd)

    def test_same_field_clause_accepted(self, spark, tiny_index):
        a = rows(search_qstring(spark, tiny_index, "text:world", k=10))
        b = rows(search(spark, tiny_index, "world", k=10))
        assert a == b and a


# ---------------------------------------------------------------------------
# phrase leaves inside boolean trees (positions index)
# ---------------------------------------------------------------------------


class TestPhraseInBoolean:
    def test_lone_phrase_equals_search_phrase(
        self, spark, pos_index, common_bigram
    ):
        a = rows(search_qstring(spark, pos_index, f'"{common_bigram}"', k=10))
        b = rows(search_phrase(spark, pos_index, common_bigram, k=10))
        # search_boolean sums per-leaf float64 scores then casts once at the
        # end; search_phrase casts the same float64 value the same way
        assert a == b and a

    def test_must_phrase_only_equals_search_phrase(
        self, spark, pos_index, common_bigram
    ):
        a = rows(search_qstring(spark, pos_index, f'+"{common_bigram}"', k=10))
        b = rows(search_phrase(spark, pos_index, common_bigram, k=10))
        assert a == b and a

    def test_phrase_with_negation(self, spark, pos_index, common_bigram, tiny_pdf):
        from cuvs_lucene_spark.analysis import tokenize_py

        base = search_phrase(spark, pos_index, common_bigram, k=1000).collect()
        # pick the exclusion term FROM the phrase hits' own texts, so the
        # MUST_NOT provably removes at least one row
        hit_keys = {(r["conv_id"], r["turn_idx"]) for r in base}
        slots = set(common_bigram.split())
        cnt = Counter(
            t
            for r in tiny_pdf.itertuples()
            if (r.conv_id, int(r.turn_idx)) in hit_keys
            for t in tokenize_py(r.text)
            if t not in slots
        )
        ex = cnt.most_common(1)[0][0]
        a = {
            r["doc_id"]
            for r in search_qstring(
                spark, pos_index, f'"{common_bigram}" -{ex}', k=1000
            ).collect()
        }
        doc_has_ex = {
            r["doc_id"]
            for r in search(spark, pos_index, ex, k=100000).collect()
        }
        exp = {r["doc_id"] for r in base} - doc_has_ex
        assert a == exp and a != {r["doc_id"] for r in base}

    def test_phrase_or_term_scores_add(self, spark, pos_index, common_bigram):
        """doc matching both clauses scores phrase_score + term_score."""
        t = common_bigram.split()[0]
        both = {
            r["doc_id"]: float(r["score"])
            for r in search_qstring(
                spark, pos_index, f'"{common_bigram}" {t}', k=100000,
                float32=False,
            ).collect()
        }
        pscores = {
            r["doc_id"]: float(r["score"])
            for r in search_phrase(
                spark, pos_index, common_bigram, k=1000, float32=False
            ).collect()
        }
        tscores = {
            r["doc_id"]: float(r["score"])
            for r in search(
                spark, pos_index, t, k=100000, float32=False
            ).collect()
        }
        assert pscores  # the fixture guarantees hits
        for d, ps in pscores.items():
            assert both[d] == pytest.approx(ps + tscores[d], rel=1e-12), d

    def test_sloppy_phrase_leaf(self, spark, pos_index, common_bigram):
        a = rows(
            search_qstring(spark, pos_index, f'"{common_bigram}"~2', k=10)
        )
        b = rows(search_phrase(spark, pos_index, common_bigram, k=10, slop=2))
        assert a == b and a

    def test_phrase_requires_positions(self, spark, tiny_index):
        with pytest.raises(ValueError, match="positions=True"):
            search_qstring(spark, tiny_index, '"world school"', k=5).collect()


class TestBooleanCountExplainPhrase:
    """count_boolean / explain_boolean with PHRASE leaves need a positional
    index — they live here beside the module's pos_index fixture."""

    def test_count_with_phrase_leaf(self, spark, pos_index, common_bigram):
        from cuvs_lucene_spark.booleanq import count_boolean

        tree = Q.boolean(must=[Q.phrase(common_bigram)])
        rows = search_boolean(spark, pos_index, tree, k=10_000).count()
        got = count_boolean(spark, pos_index, tree)
        assert got == rows and got > 0
        # phrase presence is stricter than bag-of-terms presence: the AND of
        # the slot terms must cover at least as many docs
        both = Q.boolean(must=[Q.term(t) for t in common_bigram.split()])
        assert count_boolean(spark, pos_index, both) >= got

    def test_explain_with_phrase_leaf(self, spark, pos_index, common_bigram):
        from cuvs_lucene_spark.booleanq import explain_boolean

        tree = Q.boolean(must=[Q.phrase(common_bigram, boost=1.5)])
        hits = search_boolean(
            spark, pos_index, tree, k=2, float32=False
        ).collect()
        assert hits
        ex = explain_boolean(spark, pos_index, tree, hits[0]["doc_id"])
        assert ex["matched"] and abs(ex["score"] - float(hits[0]["score"])) < 1e-9
        pleaf = ex["explanation"]["clauses"]["must"][0]
        assert pleaf["kind"] == "phrase" and pleaf["matched"]
        assert pleaf["boost"] == 1.5 and pleaf["score"] > 0
