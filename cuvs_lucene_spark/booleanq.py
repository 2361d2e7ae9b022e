"""Nested BooleanQuery AST with per-clause boosts (Lucene BooleanQuery).

The flat search() surface covers one clause set (SHOULD + MUST_NOT + msm, or
AND). Lucene's BooleanQuery nests arbitrarily with per-clause boosts
[Lucene 10.2.0 BooleanQuery/BoostQuery — the query surface the reference's
codec serves via its Lucene dependency, ``pom.xml:42-43``]. This module adds
that: a small combinator AST (``Q.term`` / ``Q.boolean``) compiled onto the
same shared-pivot machinery the batch executor uses (query.py
``search_batch``): ONE postings scan over the union of the tree's terms, one
pivot aggregation producing a per-term score column per doc, then the tree
evaluates as pure JVM Column expressions (match predicate + float64 score).

Scoring semantics (Lucene BooleanWeight):
  * a TERM node matches where the doc contains the term; its score is
    boost · BM25(term, doc).
  * a BOOL node matches where (every MUST child matches) AND (no MUST_NOT
    child matches) AND (#matching SHOULD children ≥ minimum_should_match,
    which defaults to 1 when the node has only SHOULD clauses, else 0).
  * a BOOL node's score is boost · (Σ MUST child scores + Σ matching SHOULD
    child scores) — non-matching SHOULD children contribute 0; MUST_NOT
    children never contribute score.
  * float64 additions happen in clause-list order (MUST first, then SHOULD),
    recursively — a deterministic association that the SQL oracle generator
    below mirrors textually, so totals are bit-identical and exact ties at
    the k boundary break the same way.

``sql_exprs`` emits the ANSI-SQL twin of the compiled expressions for the
DuckDB oracle: both walkers traverse the tree in the same order, so the
engine and the oracle share one definition of the semantics.

Phrase and span leaves (Lucene nests PhraseQuery and any SpanQuery inside
BooleanQuery the same way) contribute through per-leaf (doc_id, score)
DataFrames LEFT-JOINed onto the pivot: presence = the join hit, score =
the standalone surface's score times boost. ``Q.span_near`` leaves carry
the full span surface — or-clause alternatives, in_order, SpanNot
exclusion, SpanFirst end bound.
"""

from __future__ import annotations

from dataclasses import dataclass, field as _dfield

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cuvs_lucene_spark.analysis import tokenize_py


@dataclass(frozen=True)
class Q:
    """One BooleanQuery AST node. Build with Q.term / Q.phrase /
    Q.span_near / Q.boolean."""

    kind: str  # "term" | "phrase" | "span" | "bool" | "const"
    token: str | None = None  # term token, or phrase slots space-joined
    boost: float = 1.0
    should: tuple = ()
    must: tuple = ()  # also holds the single child of a "const" wrapper
    must_not: tuple = ()
    filter: tuple = ()  # BooleanClause.Occur.FILTER: required, never scored
    msm: int = 0
    slop: int = 0  # phrase + span leaves
    # span leaves only (Lucene SpanQuery IS a Query — it nests in boolean
    # trees like any other clause; spans.span_near_doc_scores executes it)
    clauses: tuple = ()  # tuple of tuples: per-clause alternative terms
    in_order: bool = True
    exclude: tuple = ()  # SpanNot exclusion terms
    pre: int = 0
    post: int = 0
    end_pos: int = 0  # SpanFirst bound; 0 = unbounded

    @staticmethod
    def term(token: str, boost: float = 1.0) -> "Q":
        toks = tokenize_py(token)
        if len(toks) != 1:
            raise ValueError(
                f"Q.term takes one analyzer token, got {token!r} -> {toks}"
            )
        return Q(kind="term", token=toks[0], boost=float(boost))

    @staticmethod
    def phrase(text: str, slop: int = 0, boost: float = 1.0) -> "Q":
        """PhraseQuery leaf inside a boolean tree (Lucene nests them the
        same way). Matches where the phrase occurs; scores like the
        standalone phrase query (query.search_phrase: pf-based BM25 with
        summed slot idfs), times boost. A one-token phrase rewrites to the
        TermQuery leaf, exactly as Lucene's PhraseQuery does."""
        toks = tokenize_py(text)
        if not toks:
            raise ValueError(f"phrase {text!r} contains no analyzer tokens")
        if len(toks) == 1:
            return Q.term(toks[0], boost=boost)
        if slop < 0:
            raise ValueError("slop must be >= 0")
        if slop > 0 and len(set(toks)) < len(toks):
            raise ValueError(
                "slop>0 with repeated phrase terms is not supported"
            )
        return Q(
            kind="phrase", token=" ".join(toks), slop=int(slop),
            boost=float(boost),
        )

    @staticmethod
    def span_near(
        query,
        slop: int = 0,
        in_order: bool = True,
        boost: float = 1.0,
        exclude: str | None = None,
        pre: int = 0,
        post: int = 0,
        end: int | None = None,
    ) -> "Q":
        """Span leaf inside a boolean tree: an ordered/unordered span-near
        (``query`` as a list gives per-clause SpanOr alternatives), with the
        optional SpanNot exclusion (``exclude``/``pre``/``post``) and
        SpanFirst end bound (``end``). Matches where the span query has
        >= 1 surviving span; scores like the standalone span search
        (spans.span_near_doc_scores: sloppyFreq pseudo-term BM25), times
        boost. A single bare term with no filters rewrites to the TermQuery
        leaf — pf = tf makes the scores identical, exactly as a lone
        SpanTermQuery scores like its TermQuery."""
        parts = [query] if isinstance(query, str) else list(query)
        clauses = []
        for c in parts:
            toks = tokenize_py(c)
            if isinstance(query, str):
                clauses.extend([t] for t in toks)
            else:
                if not toks:
                    raise ValueError(f"span clause {c!r} has no analyzer tokens")
                clauses.append(list(dict.fromkeys(toks)))
        if not clauses:
            raise ValueError(f"span query {query!r} contains no analyzer tokens")
        inc = [t for c in clauses for t in c]
        if len(set(inc)) != len(inc):
            raise ValueError("span_near with repeated clause terms is not supported")
        if slop < 0 or pre < 0 or post < 0:
            raise ValueError("slop/pre/post must be >= 0")
        if end is not None and end < 1:
            raise ValueError("end must be >= 1")
        excl = tuple(tokenize_py(exclude)) if exclude else ()
        if len(clauses) < 2 and not excl and end is None:
            if len(clauses[0]) == 1:
                return Q.term(clauses[0][0], boost=boost)
            raise ValueError(
                "a single unfiltered or-clause is not a span-near; use the "
                "standalone search_span_or or add a second clause"
            )
        return Q(
            kind="span", slop=int(slop), boost=float(boost),
            clauses=tuple(tuple(c) for c in clauses), in_order=bool(in_order),
            exclude=excl, pre=int(pre), post=int(post),
            end_pos=int(end) if end is not None else 0,
        )

    def key(self) -> str:
        """Pivot-column key of a LEAF: the token for terms, a quoted
        phrase-with-slop spelling for phrases, a span(...) spelling for
        span leaves (neither can collide with analyzer tokens, which are
        [a-z0-9]+)."""
        if self.kind == "term":
            return self.token
        if self.kind == "phrase":
            return f'"{self.token}"~{self.slop}'
        if self.kind == "span":
            body = ",".join("|".join(c) for c in self.clauses)
            k = f"span({body})~{self.slop}{'o' if self.in_order else 'u'}"
            if self.exclude:
                k += f"!{'|'.join(self.exclude)}~{self.pre},{self.post}"
            if self.end_pos:
                k += f"<{self.end_pos}"
            return k
        raise ValueError("key() is for leaves")

    @staticmethod
    def boolean(
        should=(), must=(), must_not=(), msm: int = 0, boost: float = 1.0,
        filter=(),
    ) -> "Q":
        """filter — BooleanClause.Occur.FILTER clauses [Lucene-10.2.0, via
        pom.xml:42-43]: the clause must match (like MUST) but contributes
        NOTHING to the score — Lucene's cache-friendly structured-predicate
        occur. A filter-only node matches like a pure filter and scores 0
        (Lucene wraps such queries in a constant-score of 0)."""
        should, must, must_not = tuple(should), tuple(must), tuple(must_not)
        filter = tuple(filter)
        for c in (*should, *must, *must_not, *filter):
            if not isinstance(c, Q):
                raise TypeError(f"clause {c!r} is not a Q node")
        if not should and not must and not filter:
            raise ValueError(
                "a boolean node needs at least one SHOULD, MUST or FILTER "
                "clause (pure-negation queries match nothing scoreable)"
            )
        if msm < 0 or msm > len(should):
            raise ValueError(f"msm={msm} out of range for {len(should)} SHOULD")
        return Q(
            kind="bool", should=should, must=must, must_not=must_not,
            msm=int(msm), boost=float(boost), filter=filter,
        )

    @staticmethod
    def const(sub: "Q", boost: float = 1.0) -> "Q":
        """ConstantScoreQuery analog [Lucene-10.2.0, via pom.xml:42-43]:
        matches exactly where `sub` matches, scores the constant `boost`
        (default 1.0) regardless of the child's scores."""
        if not isinstance(sub, Q):
            raise TypeError(f"sub {sub!r} is not a Q node")
        return Q(kind="const", must=(sub,), boost=float(boost))

    # -- introspection ----------------------------------------------------
    def all_terms(self) -> list[str]:
        """Every distinct scan term in the tree (positive AND negative,
        including phrase slot terms — phrase-matching docs must appear in
        the executor's pivot), sorted."""
        out: set[str] = set()

        def walk(n: Q) -> None:
            if n.kind == "term":
                out.add(n.token)
            elif n.kind == "phrase":
                out.update(n.token.split(" "))
            elif n.kind == "span":
                # include-clause terms only: a span-matching doc holds >= 1
                # alternative per clause, so scanning the alternatives keeps
                # the pivot's doc universe complete; exclusion terms carry
                # no idf and the span pipeline scans them itself
                for c in n.clauses:
                    out.update(c)
            else:
                for c in (*n.must, *n.should, *n.must_not, *n.filter):
                    walk(c)

        walk(self)
        return sorted(out)

    def phrase_leaves(self) -> list["Q"]:
        """Distinct phrase leaves in the tree, ordered by key()."""
        out: dict[str, Q] = {}

        def walk(n: Q) -> None:
            if n.kind == "phrase":
                out.setdefault(n.key(), n)
            elif n.kind in ("bool", "const"):
                for c in (*n.must, *n.should, *n.must_not, *n.filter):
                    walk(c)

        walk(self)
        return [out[k] for k in sorted(out)]

    def span_leaves(self) -> list["Q"]:
        """Distinct span leaves in the tree, ordered by key()."""
        out: dict[str, Q] = {}

        def walk(n: Q) -> None:
            if n.kind == "span":
                out.setdefault(n.key(), n)
            elif n.kind in ("bool", "const"):
                for c in (*n.must, *n.should, *n.must_not, *n.filter):
                    walk(c)

        walk(self)
        return [out[k] for k in sorted(out)]


def _leaf_scores(spark, rd, leaf: Q, fld: str, stats: dict) -> DataFrame | None:
    """Per-doc (doc_id, score_d) for one phrase or span leaf — the phrase
    pipeline, or the span pipeline with the leaf's stored knobs; None when
    the leaf provably matches nothing (a phrase slot term or every
    alternative of a span clause is absent). Deletes/filters are NOT
    applied: the callers join onto a pivot whose rows already passed them."""
    from cuvs_lucene_spark.query import phrase_doc_scores
    from cuvs_lucene_spark.spans import span_near_doc_scores

    if leaf.kind == "phrase":
        slots = leaf.token.split(" ")
        if not all(stats.get(t, (0, 0))[0] > 0 for t in slots):
            return None
        return phrase_doc_scores(spark, rd, slots, fld, slop=leaf.slop)
    return span_near_doc_scores(
        spark, rd, [list(c) for c in leaf.clauses], fld, leaf.slop,
        in_order=leaf.in_order, max_end=leaf.end_pos or None,
        exclude=list(leaf.exclude) or None, pre=leaf.pre, post=leaf.post,
    )


def _join_leaves(
    spark, rd, q: Q, fld: str, stats: dict, agg: DataFrame,
    present: dict[str, Column], score: dict[str, Column],
) -> DataFrame:
    """LEFT-join every phrase and span leaf's per-doc scores onto the pivot
    ``agg`` as one column each, registering the leaf's presence (the join
    hit) and NULL-safe score under its key. Every leaf-matching doc holds
    all phrase slot terms / >= 1 alternative of every span clause, and those
    are in the scan set (all_terms), so the left join loses no matches."""
    leaves = [(f"_p{j}", p) for j, p in enumerate(q.phrase_leaves())]
    leaves += [(f"_sp{j}", sp) for j, sp in enumerate(q.span_leaves())]
    for col, leaf in leaves:
        sdf = _leaf_scores(spark, rd, leaf, fld, stats)
        if sdf is None:
            agg = agg.withColumn(col, F.lit(None).cast("double"))
        else:
            agg = agg.join(
                sdf.select("doc_id", F.col("score_d").alias(col)),
                "doc_id", "left",
            )
        present[leaf.key()] = F.col(col).isNotNull()
        score[leaf.key()] = F.coalesce(F.col(col), F.lit(0.0))
    return agg


def _effective_msm(n: Q) -> int:
    if n.msm > 0:
        return n.msm
    # Lucene default: SHOULD-only queries need >=1 should match; with MUST
    # (or FILTER — BooleanWeight counts both as required) clauses present,
    # SHOULD clauses are purely optional scorers
    return 0 if (n.must or n.filter) else 1


def compile_columns(
    q: Q,
    present: dict[str, Column],
    score: dict[str, Column],
) -> tuple[Column, Column]:
    """(match, score) Column pair for the tree over a per-doc pivot row.

    present[k] — boolean Column: doc matches leaf-key k (absent keys
    omitted); score[k] — float64 Column: the leaf's BM25 score for the doc
    (NULL-safe 0). Keys are Q.key(): the token for terms, the quoted
    phrase spelling for phrase leaves. Leaves missing from `present`
    (df = 0 / phrase term absent) never match."""
    if q.kind in ("term", "phrase", "span"):
        kk = q.key()
        if kk not in present:
            return F.lit(False), F.lit(0.0)
        return present[kk], F.lit(q.boost) * score[kk]
    if q.kind == "const":
        m, _s = compile_columns(q.must[0], present, score)
        return m, F.lit(float(q.boost))
    must_parts = [compile_columns(c, present, score) for c in q.must]
    should_parts = [compile_columns(c, present, score) for c in q.should]
    notm = [compile_columns(c, present, score)[0] for c in q.must_not]
    filt = [compile_columns(c, present, score)[0] for c in q.filter]

    match: Column = F.lit(True)
    for m, _s in must_parts:
        match = match & m
    for fm in filt:  # FILTER: required for matching, never scored
        match = match & fm
    for nm in notm:
        match = match & ~nm
    need = _effective_msm(q)
    if need > 0 or q.should:
        n_sh = F.lit(0)
        for m, _s in should_parts:
            n_sh = n_sh + F.when(m, 1).otherwise(0)
        if need > 0:
            match = match & (n_sh >= F.lit(need))

    total: Column = F.lit(0.0)
    for _m, s in must_parts:  # clause-list order = the summation order
        total = total + s
    for m, s in should_parts:
        total = total + F.when(m, s).otherwise(F.lit(0.0))
    return match, F.lit(q.boost) * total


def sql_exprs(
    q: Q,
    present_sql,
    score_sql,
) -> tuple[str, str]:
    """(match_sql, score_sql) strings mirroring compile_columns exactly.

    present_sql(k) / score_sql(k): SQL snippets for leaf-key presence
    (boolean) and per-leaf float64 score over the oracle's per-doc pivot
    (keys are Q.key() — phrase keys arrive quoted, the caller routes them to
    its phrase CTE). The textual additions associate left-to-right in the
    same clause order as the engine, so DuckDB's float64 totals are
    bit-identical."""
    if q.kind in ("term", "phrase", "span"):
        kk = q.key()
        return present_sql(kk), f"({q.boost!r} * {score_sql(kk)})"
    if q.kind == "const":
        m, _s = sql_exprs(q.must[0], present_sql, score_sql)
        return m, f"({float(q.boost)!r})"
    must_parts = [sql_exprs(c, present_sql, score_sql) for c in q.must]
    should_parts = [sql_exprs(c, present_sql, score_sql) for c in q.should]
    notm = [sql_exprs(c, present_sql, score_sql)[0] for c in q.must_not]
    filt = [sql_exprs(c, present_sql, score_sql)[0] for c in q.filter]

    conj = ["TRUE"]
    conj += [m for m, _s in must_parts]
    conj += [m for m in filt]
    conj += [f"NOT ({m})" for m in notm]
    need = _effective_msm(q)
    if need > 0:
        n_sh = " + ".join(f"(CASE WHEN {m} THEN 1 ELSE 0 END)" for m, _s in should_parts)
        conj.append(f"(({n_sh}) >= {need})")
    match = "(" + " AND ".join(conj) + ")"

    total = "0.0"
    for _m, s in must_parts:
        total = f"({total} + {s})"
    for m, s in should_parts:
        total = f"({total} + (CASE WHEN {m} THEN {s} ELSE 0.0 END))"
    return match, f"({q.boost!r} * {total})"


def match_doc_ids_boolean(
    spark: SparkSession,
    rd,
    q: Q,
    fld: str,
    filter_cond: Column | str | None = None,
) -> DataFrame | None:
    """Distinct LIVE doc_ids matching a boolean tree, or None when provably
    empty without running a job (every positive path needs an absent term).

    The counting twin of search_boolean's pivot: the same ONE bucket+term
    pruned postings scan, decoded to (term, doc_id) — no scores, no norms —
    one presence pivot per doc, then the tree's compiled match predicate.
    Phrase leaves contribute presence through the positional phrase pipeline
    (a phrase can only match where every slot term is present, so the scan
    set — all_terms() — already covers the pivot's doc universe)."""
    from cuvs_lucene_spark.query import (
        _live_docs, decode_postings, deleted_doc_ids,
    )

    if not rd.manifest["segments"] or rd.field_stats_of(fld)[0] == 0:
        return None
    terms = q.all_terms()
    stats = rd.term_stats(terms, fld)
    active = sorted(t for t in terms if stats.get(t, (0, 0))[0] > 0)
    if not active:
        return None
    rows = _live_docs(
        decode_postings(rd._seek_postings(active, fld, stats))
        .select("term", "doc_id"),
        rd, deleted_doc_ids(spark, rd.cat), filter_cond,
    )
    per_term = [
        F.max(F.when(F.col("term") == t, True)).alias(f"_m{i}")
        for i, t in enumerate(active)
    ]
    agg = rows.groupBy("doc_id").agg(*per_term)
    present = {
        t: F.coalesce(F.col(f"_m{i}"), F.lit(False))
        for i, t in enumerate(active)
    }
    score = {t: F.lit(0.0) for t in active}  # counting reads match_c only
    agg = _join_leaves(spark, rd, q, fld, stats, agg, present, score)
    match_c, _score_c = compile_columns(q, present, score)
    return agg.where(match_c).select("doc_id")


def count_boolean(
    spark: SparkSession,
    index_dir: str,
    q: Q,
    filter_cond: Column | str | None = None,
    reader=None,
    field: str | None = None,
) -> int:
    """Number of live docs matching a nested boolean tree — the
    ``IndexSearcher.count(BooleanQuery)`` analog (Lucene counts through the
    same Weight the searcher scores with; here the same compiled match
    predicate drives both count_boolean and search_boolean, so the count is
    definitionally consistent with the search surface). Tombstoned docs and
    filter_cond rejects never count."""
    from cuvs_lucene_spark.query import IndexReader

    rd = reader or IndexReader(spark, index_dir)
    if not rd.manifest["segments"]:
        return 0
    fld = rd.resolve_field(field)
    ids = match_doc_ids_boolean(spark, rd, q, fld, filter_cond)
    return 0 if ids is None else int(ids.count())


def explain_boolean(
    spark: SparkSession,
    index_dir: str,
    q: Q,
    doc_id: int,
    reader=None,
    field: str | None = None,
) -> dict:
    """Nested score breakdown for one (tree, doc) — the Lucene Explanation
    analog for BooleanQuery trees (BooleanWeight.explain recurses into every
    clause the same way).

    Returns {"doc_id", "matched", "score", "explanation"} where explanation
    mirrors the tree: term/phrase leaves carry {kind, key, boost, matched,
    score}; bool nodes add {clauses: {"must": [...], "should": [...],
    "must_not": [...]}, msm_needed, should_matched}. Scores are float64 and
    sum in the engine's clause-list order, so a matched doc's top-level
    score equals search_boolean(float32=False)'s score for that doc exactly.

    Driver-side interactive debugging surface: ONE bucket+term+doc-pruned
    postings read for the term leaves (the flat explain()'s plan), plus one
    doc-pruned phrase job per distinct phrase leaf."""
    from cuvs_lucene_spark.analysis import (
        BM25_B, BM25_K1, dequantize_dl_np,
    )
    import numpy as np

    from cuvs_lucene_spark.query import (
        IndexReader, decode_postings, deleted_doc_ids,
    )

    rd = reader or IndexReader(spark, index_dir)
    out: dict = {
        "doc_id": int(doc_id), "matched": False, "score": 0.0,
        "explanation": None,
    }
    if not rd.manifest["segments"]:
        return out
    fld = rd.resolve_field(field)
    f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
    if f_docs == 0:
        return out
    del_ids = deleted_doc_ids(spark, rd.cat)
    if del_ids is not None and del_ids.where(F.col("doc_id") == doc_id).count():
        return out
    terms = q.all_terms()
    stats = rd.term_stats(terms, fld)
    active = sorted(t for t in terms if stats.get(t, (0, 0))[0] > 0)
    # one doc-pruned read: this doc's tf per query term
    tf_of: dict[str, float] = {}
    dl_d: float | None = None
    if active:
        postings = rd._seek_postings(active, fld, stats).where(
            (F.col("first_doc") <= doc_id) & (F.col("last_doc") >= doc_id)
        )
        for r in (
            decode_postings(postings)
            .where(F.col("doc_id") == doc_id)
            .select("term", "tf", "dl_q")
            .collect()
        ):
            tf_of[r["term"]] = float(r["tf"])
            dl_d = float(
                dequantize_dl_np(np.array([r["dl_q"]], dtype=np.int64))[0]
            )
    # per-leaf (matched, float64 score) maps, Q.key()-keyed
    leaf_match: dict[str, bool] = {}
    leaf_score: dict[str, float] = {}
    for t in active:
        tf = tf_of.get(t)
        if tf is None:
            leaf_match[t], leaf_score[t] = False, 0.0
            continue
        idf = rd.idf(stats[t][0], f_docs)
        tf_norm = tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl_d / f_avgdl))
        leaf_match[t], leaf_score[t] = True, idf * tf_norm
    for leaf in q.phrase_leaves() + q.span_leaves():
        kk = leaf.key()
        leaf_match[kk], leaf_score[kk] = False, 0.0
        if leaf.kind == "phrase" and not all(
            t in tf_of for t in leaf.token.split(" ")
        ):
            continue  # the doc lacks a slot term: no phrase job needed
        sdf = _leaf_scores(spark, rd, leaf, fld, stats)
        if sdf is not None:
            hit = sdf.where(F.col("doc_id") == doc_id).collect()
            if hit:
                leaf_match[kk] = True
                leaf_score[kk] = float(hit[0]["score_d"])

    def walk(n: Q) -> dict:
        if n.kind in ("term", "phrase", "span"):
            kk = n.key()
            m = leaf_match.get(kk, False)
            return {
                "kind": n.kind, "key": kk, "boost": n.boost, "matched": m,
                "score": n.boost * leaf_score.get(kk, 0.0) if m else 0.0,
            }
        if n.kind == "const":
            sub = walk(n.must[0])
            return {
                "kind": "const", "boost": n.boost,
                "matched": sub["matched"], "score": n.boost,
                "clauses": {"sub": [sub]},
            }
        must = [walk(c) for c in n.must]
        should = [walk(c) for c in n.should]
        mnot = [walk(c) for c in n.must_not]
        filt = [walk(c) for c in n.filter]
        need = _effective_msm(n)
        n_sh = sum(1 for c in should if c["matched"])
        matched = (
            all(c["matched"] for c in must)
            and all(c["matched"] for c in filt)
            and not any(c["matched"] for c in mnot)
            and (need == 0 or n_sh >= need)
        )
        total = 0.0
        for c in must:  # clause-list order = compile_columns' summation order
            total = total + c["score"]
        for c in should:
            total = total + (c["score"] if c["matched"] else 0.0)
        return {
            "kind": "bool", "boost": n.boost, "matched": matched,
            # the score expression is match-independent, exactly like
            # compile_columns (search filters on match before scoring)
            "score": n.boost * total,
            "msm_needed": need, "should_matched": n_sh,
            "clauses": {
                "must": must, "should": should, "must_not": mnot,
                "filter": filt,
            },
        }

    tree = walk(q)
    out["explanation"] = tree
    out["matched"] = bool(tree["matched"])
    out["score"] = float(tree["score"]) if tree["matched"] else 0.0
    return out


def search_boolean(
    spark: SparkSession,
    index_dir: str,
    q: Q,
    k: int = 10,
    filter_cond: Column | str | None = None,
    reader=None,
    float32: bool = True,
    field: str | None = None,
) -> DataFrame:
    """Top-k BM25 for a nested boolean tree: (doc_id, score, conv_id,
    turn_idx).

    Plan shape: ONE bucket+term-pruned postings scan over the union of the
    tree's terms (negative terms included — their PRESENCE drives MUST_NOT,
    their scores are never added) → narrow score kernel → one pivot
    aggregation keyed by doc → the compiled (match, score) expressions →
    TakeOrderedAndProject — the same cost envelope as one OR query over the
    same terms, regardless of tree shape."""
    from cuvs_lucene_spark.query import (
        IndexReader,
        _empty_hits,
        _finish_topk,
        _live_docs,
        _score_postings,
        deleted_doc_ids,
    )

    rd = reader or IndexReader(spark, index_dir)
    empty = _empty_hits(spark, float32)
    if k <= 0 or not rd.manifest["segments"]:
        return empty
    fld = rd.resolve_field(field)
    f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
    if f_docs == 0:
        return empty
    k = min(k, f_docs)
    terms = q.all_terms()
    stats = rd.term_stats(terms, fld)
    active = sorted(t for t in terms if stats.get(t, (0, 0))[0] > 0)
    if not active:
        return empty
    term_meta = {t: (rd.idf(stats[t][0], f_docs), 1) for t in active}
    score_rows = _live_docs(
        _score_postings(
            rd._seek_postings(active, fld, stats), term_meta, f_avgdl, float32
        ),
        rd, deleted_doc_ids(spark, rd.cat), filter_cond,
    )
    per_term = [
        F.sum(F.when(F.col("tidx") == i, F.col("score"))).alias(f"_s{i}")
        for i in range(len(active))
    ]
    agg = score_rows.groupBy("doc_id").agg(*per_term)
    # the kernel's tidx is the term's rank in sorted(term_meta) == `active`
    present = {t: F.col(f"_s{i}").isNotNull() for i, t in enumerate(active)}
    score = {
        t: F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        for i, t in enumerate(active)
    }
    # deletes and filters were already applied to score_rows, so agg rows
    # are the universe of eligible docs and the leaf joins re-apply neither
    agg = _join_leaves(spark, rd, q, fld, stats, agg, present, score)
    match_c, score_c = compile_columns(q, present, score)
    return _finish_topk(
        spark, rd, agg.where(match_c).select("doc_id", score_c.alias("score_d")),
        k, float32,
    )
