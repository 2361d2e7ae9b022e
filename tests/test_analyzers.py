"""Analysis chains (Lucene EnglishAnalyzer-lite analog): stop filter with
position increments + EnglishMinimalStemFilter, pinned across the python /
numpy / DuckDB twins and through the full build+query stack.

Reference analog: the analyzer modules Lucene ships alongside the codec the
reference plugs into [Lucene-10.2.0 analysis-common, via pom.xml:42-43];
EnglishMinimalStemmer is the published S-stemmer."""

import datetime

import duckdb
import pytest

from cuvs_lucene_spark.analysis import (
    ENGLISH_STOP_WORDS,
    analyze_py,
    analyze_with_offsets,
    analyze_sql_toks,
    english_minimal_stem_py,
    english_minimal_stem_sql,
    tokenize_py,
)
from cuvs_lucene_spark.operators.build import build_index, build_segment
from cuvs_lucene_spark.query import IndexReader, search, search_phrase


# ---------------------------------------------------------------------------
# twins (no Spark)
# ---------------------------------------------------------------------------


class TestChainTwins:
    STEM_CASES = {
        # published EnglishMinimalStemmer behavior — deliberately minimal
        # and sometimes aggressive (dies→dy, news→new are Lucene's outputs)
        "dogs": "dog", "trees": "tree", "cities": "city", "goes": "goes",
        "radios": "radio", "glasses": "glasse", "bus": "bus", "less": "less",
        "is": "is", "as": "as", "ss": "ss", "dies": "dy", "aes": "aes",
        "ties": "ty", "series": "sery", "babies": "baby", "s": "s",
        "areas": "area", "values": "values", "maps": "map", "news": "new",
    }

    def test_stemmer_cases(self):
        for w, exp in self.STEM_CASES.items():
            assert english_minimal_stem_py(w) == exp, w

    def test_stemmer_sql_twin(self):
        con = duckdb.connect()
        vals = ", ".join(f"('{w}')" for w in self.STEM_CASES)
        rows = con.execute(
            f"SELECT t, {english_minimal_stem_sql('t')} FROM (VALUES {vals}) v(t)"
        ).fetchall()
        for w, got in rows:
            assert got == english_minimal_stem_py(w), w

    def test_stemmer_sql_twin_random(self):
        import random
        import string

        rng = random.Random(42)
        words = [
            "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(1, 9)))
            + rng.choice(["", "s", "es", "ies", "ss", "us"])
            for _ in range(500)
        ]
        con = duckdb.connect()
        vals = ", ".join(f"('{w}')" for w in words)
        rows = con.execute(
            f"SELECT t, {english_minimal_stem_sql('t')} FROM (VALUES {vals}) v(t)"
        ).fetchall()
        for w, got in rows:
            assert got == english_minimal_stem_py(w), w

    def test_offsets_count_stopwords(self):
        assert analyze_with_offsets("The big DOGS ran to the cities", "english") == [
            ("big", 1), ("dog", 2), ("ran", 3), ("city", 6)
        ]
        # standard chain: identity positions
        assert analyze_with_offsets("a b", "standard") == [("a", 0), ("b", 1)]

    def test_sql_toks_twin(self):
        texts = [
            "The big DOGS ran to the cities",
            "such trees, these glasses!",
            "",
            "a the of",  # all stopwords -> empty
        ]
        con = duckdb.connect()
        for t in texts:
            got = con.execute(
                f"SELECT {analyze_sql_toks(repr(t), 'english')}"
            ).fetchone()[0]
            assert list(got) == analyze_py(t, "english"), t

    def test_all_stop_words_analyzed_away(self):
        for w in ENGLISH_STOP_WORDS:
            assert analyze_py(w, "english") == []

    def test_unknown_analyzer_rejected(self):
        with pytest.raises(ValueError, match="unknown analyzer"):
            analyze_py("x", "klingon")


# ---------------------------------------------------------------------------
# build + query on a hand-built corpus (known positions and lengths)
# ---------------------------------------------------------------------------

_DOCS = [
    # (turn_idx, text)
    (0, "the big dog runs"),          # big@1 dog@2 run@3 (dl 3)
    (1, "big dog parks"),             # big@0 dog@1 park@2 (dl 3)
    (2, "a big the dog"),             # big@1 dog@3 — gap phrase target (dl 2)
    (3, "dogs dogs dogs"),            # dog tf 3 (dl 3)
    (4, "cats and trees"),            # cat@0 tree@2 (dl 2)
    (5, "the the the"),               # analyzes to NOTHING (dl 0)
]


@pytest.fixture(scope="module")
def eng_index(spark, tmp_path_factory):
    rows = [
        ("conv-0", i, "user", text, None,
         datetime.datetime(2026, 1, 1, 0, 0, i))
        for i, text in _DOCS
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    d = str(tmp_path_factory.mktemp("idx") / "eng")
    build_index(
        spark, df, d, buckets=2, salt_buckets=2, positions=True,
        analyzer="english",
    )
    return d


def _oracle_bm25(q_terms: list[str], k1=1.2, b=0.75):
    """Hand oracle over _DOCS with the english chain (quantized-norm dl)."""
    import math

    docs = {i: analyze_py(t, "english") for i, t in _DOCS}
    n_docs = sum(1 for v in docs.values() if v)  # dl>0 docs
    avgdl = sum(len(v) for v in docs.values()) / n_docs
    out = {}
    for i, toks in docs.items():
        s = 0.0
        for t in set(q_terms):
            tf = toks.count(t)
            if not tf:
                continue
            df = sum(1 for v in docs.values() if t in v)
            idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
            dl = len(toks)  # < 8 -> quantization is identity
            s += idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))
        if s > 0:
            out[i] = s
    return out


class TestEnglishIndex:
    def test_dl_counts_survivors_only(self, spark, eng_index):
        rd = IndexReader(spark, eng_index)
        assert rd.analyzer == "english"
        dd = {
            r["turn_idx"]: r["dl"]
            for r in rd.cat.read_doc_dim(spark).select("turn_idx", "dl").collect()
        }
        assert dd == {0: 3, 1: 3, 2: 2, 3: 3, 4: 2, 5: 0}

    def test_search_matches_hand_oracle(self, spark, eng_index):
        exp = _oracle_bm25(["dog"])
        got = {
            r["turn_idx"]: float(r["score"])
            for r in search(spark, eng_index, "DOGS", k=10, float32=False).collect()
        }
        assert set(got) == set(exp)
        for i in exp:
            assert got[i] == pytest.approx(exp[i], rel=1e-9), i

    def test_query_forms_equivalent(self, spark, eng_index):
        # "dogs", "dog", "the dogs" all analyze to the same single term
        a = [(r["doc_id"], r["score"]) for r in search(spark, eng_index, "dogs", k=10).collect()]
        b = [(r["doc_id"], r["score"]) for r in search(spark, eng_index, "dog", k=10).collect()]
        c = [(r["doc_id"], r["score"]) for r in search(spark, eng_index, "the dogs", k=10).collect()]
        assert a == b == c and a

    def test_stopword_only_query_empty(self, spark, eng_index):
        assert search(spark, eng_index, "the and of", k=10).count() == 0

    def test_phrase_gap_semantics(self, spark, eng_index):
        # "big the dog" -> (big@0, dog@2): matches ONLY the gapped doc 2
        hits = {
            r["turn_idx"]
            for r in search_phrase(spark, eng_index, "big the dog", k=10).collect()
        }
        assert hits == {2}
        # adjacent "big dog" matches docs 0 and 1, not the gapped doc 2
        hits = {
            r["turn_idx"]
            for r in search_phrase(spark, eng_index, "big dog", k=10).collect()
        }
        assert hits == {0, 1}

    def test_sloppy_phrase_spans_gap(self, spark, eng_index):
        # slop=1 lets "big dog" stretch across the removed stopword in doc 2
        hits = {
            r["turn_idx"]
            for r in search_phrase(spark, eng_index, "big dog", k=10, slop=1).collect()
        }
        assert hits == {0, 1, 2}

    def test_sloppy_phrase_across_stopword_gap(self, spark, eng_index):
        # "big the dog" -> (big@0, dog@2): the sloppy sweep measures match
        # length over the gap-adjusted positions, like the exact match
        import itertools

        q = analyze_with_offsets("big the dog", "english")

        def brute(slop):
            hits = set()
            for i, text in _DOCS:
                toks = analyze_with_offsets(text, "english")
                adj = [[p - off for t, p in toks if t == term] for term, off in q]
                if any(
                    max(c) - min(c) <= slop for c in itertools.product(*adj)
                ):
                    hits.add(i)
            return hits

        assert brute(0) == {2}  # slop=0 still requires the gap
        for slop in (0, 1, 2):
            hits = {
                r["turn_idx"]
                for r in search_phrase(
                    spark, eng_index, "big the dog", k=10, slop=slop
                ).collect()
            }
            assert hits == brute(slop), slop

    def test_qparser_analyzes_terms(self, spark, eng_index):
        from cuvs_lucene_spark.qparser import ParseError, search_qstring

        a = [(r["doc_id"], r["score"]) for r in search_qstring(spark, eng_index, "dogs AND big", k=10).collect()]
        b = [(r["doc_id"], r["score"]) for r in search(spark, eng_index, "dog big", k=10, mode="and").collect()]
        assert a == b and a
        # stopword clause drops out of a disjunction
        c = [(r["doc_id"], r["score"]) for r in search_qstring(spark, eng_index, "the dogs", k=10).collect()]
        d = [(r["doc_id"], r["score"]) for r in search_qstring(spark, eng_index, "dogs", k=10).collect()]
        assert c == d and c
        with pytest.raises(ParseError, match="search_phrase"):
            search_qstring(spark, eng_index, '"big dog"', k=10)

    def test_segment_append_inherits_analyzer(self, spark, eng_index, tmp_path_factory):
        rows = [("conv-1", 0, "user", "more dogs arrive", None,
                 datetime.datetime(2026, 1, 2))]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        # even with analyzer='standard' requested, segment 1 follows segment 0
        seg = build_segment(spark, df, eng_index, segment_id=1, analyzer="standard")
        assert seg["analyzer"] == "english"

    def test_highlight_guarded(self, spark, eng_index):
        from cuvs_lucene_spark.highlight import highlight

        rows = [
            ("conv-0", i, "user", text, None,
             datetime.datetime(2026, 1, 1, 0, 0, i))
            for i, text in _DOCS
        ]
        corpus = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        with pytest.raises(NotImplementedError, match="analyz"):
            highlight(spark, eng_index, corpus, "dogs", k=3)

    def test_build_rejects_unknown_analyzer(self, spark, tmp_path_factory):
        df = spark.createDataFrame(
            [("c", 0, "user", "x", None, datetime.datetime(2026, 1, 1))],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        with pytest.raises(ValueError, match="unknown analyzer"):
            build_index(
                spark, df, str(tmp_path_factory.mktemp("idx") / "bad"),
                analyzer="klingon",
            )
