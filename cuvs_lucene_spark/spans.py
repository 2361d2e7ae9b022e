"""Ordered span-near queries — the Lucene ``SpanNearQuery(inOrder=true)``
analog over the positional postings payload.

Semantics implemented (the published NearSpansOrdered enumeration for
single-term clauses [Lucene 10.2.0 ``queries`` module — the span surface
sits beside the codec API the reference plugs into via its Lucene
dependency, ``pom.xml:42-43``]):

- clause terms must appear in the GIVEN order, each strictly after the
  previous one (next start >= previous end; terms occupy one position, so
  positions are strictly increasing),
- one candidate match per position of the FIRST clause: each later clause
  stretches to its MINIMAL position past the previous clause's end,
- the match width is the sum of the gaps between consecutive matched
  positions; a candidate matches iff width <= slop,
- scoring is Lucene's SpanScorer shape: the span behaves as a pseudo-term
  with float frequency ``pf = Σ_matches sloppyFreq(width)`` where
  ``sloppyFreq(d) = 1/(1+d)`` (BM25Similarity.SimScorer), idf = SUM of the
  clause terms' idfs, and the document's usual BM25 length norm:
      score = Σ idf(t_i) · pf / (pf + k1·(1-b+b·dl/avgdl))

Unordered span-near (``in_order=False``) is the published
NearSpansUnordered enumeration — and it is NOT the sloppy PhraseQuery:
the two surfaces enumerate different match sets and weight them
differently (SloppyPhraseMatcher minimizes a matchLength per completed
window and weights 1/(1+matchLength); NearSpansUnordered checks every
state of a merge walk over the clause position lists and weights
1/(1+spanWidth)). Semantics implemented:

- state = one current position per clause, all starting at their first
  occurrence; the walk repeatedly advances the clause holding the MINIMUM
  current position, stopping when that clause is exhausted,
- every visited state is checked once: with single-position term clauses
  the candidate interval is [min, max+1), and it matches iff
  ``(max+1) - min - n <= slop`` (Lucene's
  ``maxEnd - minStart - totalSpanLength <= allowedSlop``),
- each matching state contributes ``sloppyFreq(width)`` with
  ``width = max - min`` (NearSpansUnordered.width() is
  maxEndPositionCell.start - minPositionCell.start), and scoring is the
  same pseudo-term BM25 as the ordered case.

SpanNear with repeated clause terms is rejected loudly in both modes
(Lucene routes repeats through dedicated machinery; silent wrong answers
are worse than a ValueError).

``search_span_or`` is the SpanOrQuery analog: the union of the terms'
spans scored as one pseudo-term (pf = Σ tf, idf = Σ idf of present
terms) — positions never read, so it works on non-positional indexes.
Inside a span-near, a clause may itself be a SpanOr: pass ``query`` as a
list of clause strings, each analyzed into that clause's alternative
terms, matching at the UNION of their positions.

``exclude``/``pre``/``post`` wrap any span query in a SpanNotQuery:
occurrences of the analyzed exclusion terms, widened by ``pre`` positions
before and ``post`` after, veto overlapping candidate spans inside the
same enumeration (FilterSpans again); surviving matches keep their
weight, and exclusion terms contribute no idf — SpanNotWeight builds its
similarity weight from the include span only.

``search_span_first`` is the SpanFirstQuery analog (SpanPositionRangeQuery
with start=0): only spans that END within the first ``end`` positions of
the document are kept — Lucene's FilterSpans drops non-accepted spans from
the SAME underlying enumeration, so the per-match weight is unchanged
(``sloppyFreq(width)`` of the inner span; a term span has width 0 and
contributes 1 per accepted occurrence). The inner span query may be a
single term, an ordered near, or an unordered near; ``max_end`` threads
the filter through the same enumeration kernels.

Plan shape at scale: every span query here builds its slot map and
frequency function and hands them to query._positional_doc_scores — the
same plan as the sloppy phrase (Lucene's own two-phase pattern): one seek
of the clause (and exclusion) terms → occurrence rows; a position-free
pass over the same postings finds the docs holding a present alternative
of every include clause (the conjunction approximation, skipped for a
single clause); only those docs' occurrence rows are repartitioned and
swept per doc in an Arrow-batched kernel, then scored as one pseudo-term;
only the final top-k is ever collected (query._positional_topk).
SpanOr skips positions entirely (query._summed_tf_scores).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession

from cuvs_lucene_spark.query import (
    IndexReader,
    _positional_doc_scores,
    _positional_topk,
    _present_terms,
    _require_positions,
    _slot_map,
    _summed_tf_scores,
)


def _excl_overlaps(
    start: np.ndarray, end: np.ndarray, excl: np.ndarray, pre: int, post: int
) -> np.ndarray:
    """Boolean mask: candidate span [start, end) overlaps some exclusion
    position q (a width-1 span [q, q+1)) within the SpanNot pre/post buffer
    — q+1 > start-pre and q < end+post, i.e. q in [start-pre, end+post).
    excl must be sorted; vectorized over all candidates at once."""
    lo = np.searchsorted(excl, start - pre, side="left")
    hi = np.searchsorted(excl, end + post, side="left")
    return hi > lo


def ordered_span_pf(
    pos_by_slot: list[np.ndarray],
    slop: int,
    max_end: int | None = None,
    excl: np.ndarray | None = None,
    pre: int = 0,
    post: int = 0,
    min_start: int | None = None,
) -> float:
    """NearSpansOrdered float frequency from per-clause sorted RAW position
    arrays: one candidate per first-clause position, minimal stretch of each
    later clause, ``Σ 1/(1+width)`` over candidates with width <= slop.
    ``max_end`` (SpanFirstQuery filter) additionally requires the span's end
    — last matched position + 1 — to be <= max_end. ``excl`` (SpanNotQuery
    filter) drops candidates whose span, widened by ``pre`` positions before
    and ``post`` after, overlaps any exclusion position.

    Vectorized across all first-clause positions at once (np.searchsorted
    per later clause), so a doc with f occurrences of the first term costs
    O(n·f·log) regardless of how many candidates complete."""
    first = np.asarray(pos_by_slot[0], dtype=np.int64)
    if not len(first):
        return 0.0
    prev_end = first + 1
    width = np.zeros(len(first), dtype=np.int64)
    alive = np.ones(len(first), dtype=bool)
    for raw in pos_by_slot[1:]:
        arr = np.asarray(raw, dtype=np.int64)
        if not len(arr):
            return 0.0
        j = np.searchsorted(arr, prev_end, side="left")
        ok = j < len(arr)
        alive &= ok
        j = np.minimum(j, len(arr) - 1)
        q = arr[j]
        width = width + (q - prev_end)  # garbage where ~alive; masked below
        prev_end = q + 1
    m = alive & (width <= slop)
    if max_end is not None:
        m &= prev_end <= max_end
    if min_start is not None:
        m &= first >= min_start
    if excl is not None and len(excl):
        m &= ~_excl_overlaps(first, prev_end, excl, pre, post)
    if not m.any():
        return 0.0
    return float(np.sum(1.0 / (1.0 + width[m].astype(np.float64))))


def unordered_span_pf(
    pos_by_slot: list[np.ndarray],
    slop: int,
    max_end: int | None = None,
    excl: np.ndarray | None = None,
    pre: int = 0,
    post: int = 0,
    min_start: int | None = None,
) -> float:
    """NearSpansUnordered float frequency from per-clause sorted RAW
    position arrays: the merge walk over the clause lists, one match check
    per visited state, ``Σ 1/(1+(max-min))`` over states with
    ``max - min - (n-1) <= slop``. ``max_end`` (SpanFirstQuery filter)
    additionally requires the state's end — max position + 1 — to be
    <= max_end; ``excl``/``pre``/``post`` apply the SpanNotQuery overlap
    filter to each state's span [min, max+1).

    n=2 is fully vectorized via the walk's order-theoretic twin: with all
    positions distinct (one term per position), the walk visits state
    (i, j) iff every consumed position precedes every current one —
    ``A[i-1] < B[j] and B[j-1] < A[i]`` — which two np.searchsorted calls
    enumerate without stepping. n>=3 runs the walk directly (clause counts
    are tiny; docs are independent and swept in parallel upstream)."""
    n = len(pos_by_slot)
    lists = [np.asarray(a, dtype=np.int64) for a in pos_by_slot]
    if any(len(a) == 0 for a in lists):
        return 0.0
    if n == 2:
        a, b = lists
        lo = np.searchsorted(a, np.concatenate(([-1], b[:-1])), side="right")
        hi = np.minimum(np.searchsorted(a, b, side="left"), len(a) - 1)
        counts = hi - lo + 1
        valid = counts > 0
        if not valid.any():
            return 0.0
        cnt = counts[valid]
        j_idx = np.repeat(np.flatnonzero(valid), cnt)
        offs = np.concatenate(([0], np.cumsum(cnt)))[:-1]
        i_idx = (
            np.arange(int(cnt.sum())) - np.repeat(offs, cnt)
            + np.repeat(lo[valid], cnt)
        )
        w = np.abs(a[i_idx] - b[j_idx])
        m = (w - 1) <= slop
        if max_end is not None:
            m &= np.maximum(a[i_idx], b[j_idx]) + 1 <= max_end
        if min_start is not None:
            m &= np.minimum(a[i_idx], b[j_idx]) >= min_start
        if excl is not None and len(excl):
            mn2 = np.minimum(a[i_idx], b[j_idx])
            mx2 = np.maximum(a[i_idx], b[j_idx])
            m &= ~_excl_overlaps(mn2, mx2 + 1, excl, pre, post)
        if not m.any():
            return 0.0
        return float(np.sum(1.0 / (1.0 + w[m].astype(np.float64))))
    has_excl = excl is not None and len(excl) > 0
    ptr = [0] * n
    heads = [int(a[0]) for a in lists]
    total = 0.0
    while True:
        mn = min(heads)
        mx = max(heads)
        if (
            mx - mn - (n - 1) <= slop
            and (max_end is None or mx + 1 <= max_end)
            and (min_start is None or mn >= min_start)
        ):
            if not (
                has_excl
                and bool(
                    _excl_overlaps(
                        np.array([mn]), np.array([mx + 1]), excl, pre, post
                    )[0]
                )
            ):
                total += 1.0 / (1.0 + (mx - mn))
        i = heads.index(mn)
        ptr[i] += 1
        if ptr[i] >= len(lists[i]):
            return total
        heads[i] = int(lists[i][ptr[i]])


def ordered_span_chains(
    pos_by_slot: list[np.ndarray],
    slop: int,
    max_end: int | None = None,
    excl: np.ndarray | None = None,
    pre: int = 0,
    post: int = 0,
    min_start: int | None = None,
) -> list[list[int]]:
    """The surviving ordered matches' CLAUSE POSITIONS (one chain per
    candidate that passes slop/max_end/exclusion) — the highlighter's
    position-accurate marking source. Consistency with the scoring kernel
    is pinned by pytest: ``Σ 1/(1 + chain[-1] - chain[0] - (n-1))`` over
    the returned chains equals ordered_span_pf exactly (ordered width =
    span extent minus the n matched positions). Driver/kernel-side helper
    for ≤ k hit texts — plain loops, not the vectorized enumeration."""
    n = len(pos_by_slot)
    lists = [np.asarray(a, dtype=np.int64) for a in pos_by_slot]
    if any(len(a) == 0 for a in lists):
        return []
    chains: list[list[int]] = []
    for p in lists[0]:
        prev_end, width, chain, ok = int(p) + 1, 0, [int(p)], True
        for arr in lists[1:]:
            j = int(np.searchsorted(arr, prev_end, side="left"))
            if j >= len(arr):
                ok = False
                break
            q = int(arr[j])
            width += q - prev_end
            chain.append(q)
            prev_end = q + 1
        if not ok or width > slop:
            continue
        if max_end is not None and prev_end > max_end:
            continue
        if min_start is not None and chain[0] < min_start:
            continue
        if (
            excl is not None
            and len(excl)
            and bool(
                _excl_overlaps(
                    np.array([chain[0]]), np.array([prev_end]),
                    np.asarray(excl, dtype=np.int64), pre, post,
                )[0]
            )
        ):
            continue
        chains.append(chain)
    return chains


def unordered_span_states(
    pos_by_slot: list[np.ndarray],
    slop: int,
    max_end: int | None = None,
    excl: np.ndarray | None = None,
    pre: int = 0,
    post: int = 0,
    min_start: int | None = None,
) -> list[list[int]]:
    """The surviving unordered merge-walk states' CLAUSE POSITIONS.
    Consistency pin: ``Σ 1/(1 + max - min)`` over the returned states
    equals unordered_span_pf exactly. Same ≤ k-texts usage as
    ordered_span_chains."""
    n = len(pos_by_slot)
    lists = [np.asarray(a, dtype=np.int64) for a in pos_by_slot]
    if any(len(a) == 0 for a in lists):
        return []
    e = (
        np.asarray(excl, dtype=np.int64)
        if excl is not None and len(excl)
        else None
    )
    ptr = [0] * n
    heads = [int(a[0]) for a in lists]
    out: list[list[int]] = []
    while True:
        mn, mx = min(heads), max(heads)
        if (
            mx - mn - (n - 1) <= slop
            and (max_end is None or mx + 1 <= max_end)
            and (min_start is None or mn >= min_start)
            and not (
                e is not None
                and bool(
                    _excl_overlaps(
                        np.array([mn]), np.array([mx + 1]), e, pre, post
                    )[0]
                )
            )
        ):
            out.append(list(heads))
        i = heads.index(mn)
        ptr[i] += 1
        if ptr[i] >= len(lists[i]):
            return out
        heads[i] = int(lists[i][ptr[i]])


def _split_excl(pos_by_slot: list[np.ndarray], n_inc: int):
    """Adjusted→raw conversion (adj = pos - slot index ⇒ raw = adj + i;
    per-slot constant shift preserves sortedness) and exclusion-slot split:
    slots [0, n_inc) are the include clauses, slot n_inc — when present —
    is the SpanNot exclusion clause's position union."""
    raw = [
        np.asarray(a, dtype=np.int64) + i
        for i, a in enumerate(pos_by_slot[:n_inc])
    ]
    excl = None
    if len(pos_by_slot) > n_inc:
        excl = np.asarray(pos_by_slot[n_inc], dtype=np.int64) + n_inc
    return raw, excl


def _term_span_pf(
    pos_by_slot: list[np.ndarray],
    slop: int,
    max_end: int | None = None,
    excl: np.ndarray | None = None,
    pre: int = 0,
    post: int = 0,
    min_start: int | None = None,
) -> float:
    """Single include clause: every occurrence is a width-0 span
    [pos, pos+1) contributing sloppyFreq(0) = 1, filtered by the SpanFirst
    end bound (pos + 1 <= max_end) and/or the SpanNot exclusion overlap."""
    p = pos_by_slot[0]
    m = np.ones(len(p), dtype=bool)
    if max_end is not None:
        m &= p < max_end
    if min_start is not None:
        m &= p >= min_start
    if excl is not None and len(excl):
        m &= ~_excl_overlaps(p, p + 1, excl, pre, post)
    return float(np.count_nonzero(m))


def _adjusted_span_pf(span_pf, slop: int, n_inc: int, **filters):
    """Adapter for make_sloppy_sweep_kernel's freq_of contract: the occ
    kernel ships ADJUSTED positions, which _split_excl turns back into raw
    include positions plus the exclusion union before ``span_pf``
    (ordered_span_pf, unordered_span_pf or _term_span_pf) runs."""

    def pf(pos_by_slot: list[np.ndarray], s: int) -> float:
        raw, excl = _split_excl(pos_by_slot, n_inc)
        return span_pf(raw, slop, excl=excl, **filters)

    return pf


def span_near_doc_scores(
    spark: SparkSession,
    rd: IndexReader,
    clauses: list[list[str]] | list[str],
    fld: str,
    slop: int,
    del_ids: DataFrame | None = None,
    filter_cond: Column | str | None = None,
    in_order: bool = True,
    max_end: int | None = None,
    exclude: list[str] | None = None,
    pre: int = 0,
    post: int = 0,
    min_start: int | None = None,
) -> DataFrame | None:
    """Per-doc float64 span-near BM25 scores (doc_id, score_d), matching
    docs only; None when some clause has no present alternative (the span
    provably matches nothing). Mirrors query.phrase_doc_scores' two-phase
    sloppy plan with the NearSpansOrdered (or, for in_order=False,
    NearSpansUnordered) frequency swapped into the sweep kernel.

    Each clause is a list of alternative terms — a SpanOrQuery of term
    spans (a bare str clause means one term); a clause matches at the UNION
    of its alternatives' positions, exactly Lucene's SpanOrQuery span
    enumeration, and absent alternatives simply contribute no positions
    (they are also dropped from the idf sum, as IndexSearcher skips
    zero-docFreq term statistics). ``max_end`` applies the SpanFirst end
    filter inside the same enumeration; it also admits a single-clause span
    (a bare term/or span filtered to the document head). ``exclude`` is the
    SpanNotQuery exclusion clause: candidate spans whose extent, widened by
    ``pre``/``post`` positions, overlaps any exclusion-term occurrence are
    dropped from the SAME enumeration (FilterSpans again — weights of the
    surviving matches are unchanged, and exclusion terms contribute NO idf,
    matching SpanNotWeight building its sim weight from the include span
    only)."""
    clauses = [[c] if isinstance(c, str) else list(dict.fromkeys(c)) for c in clauses]
    n = len(clauses)
    has_filters = max_end is not None or exclude or min_start is not None
    if n < 2 and not has_filters:
        raise ValueError("span_near needs >= 2 clauses")
    if n < 1 or any(not c for c in clauses):
        raise ValueError("every span clause needs >= 1 term")
    inc_terms = [t for c in clauses for t in c]
    if len(set(inc_terms)) != len(inc_terms):
        raise ValueError(
            "span_near with repeated clause terms is not supported "
            "(Lucene's repeats machinery; rephrase or use sloppy phrase)"
        )
    _require_positions(rd, "span")
    f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
    if f_docs == 0:
        return None
    stats, (*clauses, exclude) = _present_terms(
        rd, fld, [*clauses, list(dict.fromkeys(exclude or []))]
    )
    if any(not c for c in clauses):
        return None  # a clause has no present alternative: nothing matches
    idf_sum = float(
        sum(rd.idf(stats[t][0], f_docs) for c in clauses for t in c)
    )
    # a single include clause (SpanFirst / SpanNot over a term-or span)
    # counts its surviving positions
    span_pf = (
        _term_span_pf if n == 1
        else ordered_span_pf if in_order else unordered_span_pf
    )
    freq_of = _adjusted_span_pf(
        span_pf, slop, n, max_end=max_end, pre=pre, post=post,
        min_start=min_start,
    )
    # clause i's alternatives → slot i; exclusion terms → the optional slot
    # n (their position UNION — a term may be both include and exclude)
    return _positional_doc_scores(
        rd, fld, stats, _slot_map([*enumerate(clauses), (n, exclude)]),
        idf_sum, f_avgdl, del_ids, filter_cond, freq_of=freq_of, slop=slop,
        optional_slots=frozenset({n}) if exclude else frozenset(),
    )


_MULTITERM_KEYS = ("prefix", "wildcard", "fuzzy", "regexp", "term_range")


def _expand_clause(
    rd: IndexReader, spec: dict, field: str | None
) -> list[str]:
    """SpanMultiTermQueryWrapper analog: a dict span clause names exactly
    one MultiTermQuery pattern (``{"prefix": "sor"}``, ``{"wildcard":
    "s?rt"}``, ``{"fuzzy": "sorr"}``, ``{"regexp": "so.+"}``,
    ``{"term_range": ("sa", "so")}``, optional ``max_expansions`` /
    ``max_edits``) and is rewritten against the term DICTIONARY into the
    clause's alternative terms — Lucene's SpanOrQuery rewrite
    (``SpanMultiTermQueryWrapper.SCORING_SPAN_QUERY_REWRITE``). Terms come
    back already analyzed (dictionary entries are post-analysis), so they
    are used verbatim, never re-analyzed. An empty expansion means the
    clause — and therefore the whole span query — provably matches
    nothing (SpanMatchNoDocs), NOT an error. TooManyClauses propagates."""
    from cuvs_lucene_spark.multiterm import expand_terms

    opts = dict(spec)
    kw = {}
    for o in ("max_expansions", "max_edits", "include_lower", "include_upper"):
        if o in opts:
            kw[o] = opts.pop(o)
    if len(opts) != 1 or next(iter(opts)) not in _MULTITERM_KEYS:
        raise ValueError(
            f"a dict span clause needs exactly one of {_MULTITERM_KEYS} "
            f"(plus optional max_expansions/max_edits/include_lower/"
            f"include_upper), got {sorted(spec)}"
        )
    return expand_terms(rd, field, **opts, **kw)


def _parse_clauses(
    rd: IndexReader,
    query: str | list[str | dict],
    field: str | None = None,
) -> list[list[str]]:
    """Analyzed clause lists: a str query is one single-term clause per
    analyzed token (the classic SpanNear of term spans); a list query
    analyzes EACH element into that clause's alternative terms — a
    SpanOrQuery of term spans (``["merge join", "sort"]`` = near(or(merge,
    join), sort)). A DICT element is a multi-term clause expanded against
    the dictionary (see _expand_clause); if any such pattern matches no
    term the whole query is provably empty and [] is returned. String
    elements that analyze to nothing are rejected loudly — silently
    dropping a clause would change the query's arity."""
    if isinstance(query, str):
        return [[t] for t in rd.analyze(query)]
    clauses: list[list[str]] = []
    for c in query:
        if isinstance(c, dict):
            alts = _expand_clause(rd, c, field)
            if not alts:
                return []  # SpanMatchNoDocs: pattern matched no term
            clauses.append(alts)
        else:
            clauses.append(rd.analyze(c))
    if any(not c for c in clauses) and any(c for c in clauses):
        raise ValueError("a span clause analyzed to no terms")
    return [c for c in clauses if c]


def span_contain_doc_scores(
    spark: SparkSession,
    rd: IndexReader,
    big: list[list[str]],
    little: list[list[str]],
    fld: str,
    big_slop: int,
    little_slop: int,
    mode: str,
    del_ids: DataFrame | None = None,
    filter_cond: Column | str | None = None,
) -> DataFrame | None:
    """Per-doc float64 SpanContaining/SpanWithin BM25 scores.

    mode="containing": spans FROM BIG that enclose >= 1 little span
    (big.start <= little.start AND little.end <= big.end) — each surviving
    big span contributes sloppyFreq(big width). mode="within": spans FROM
    LITTLE that lie inside >= 1 big span, weighted by the little width.
    Both enumerations are the ordered minimal-stretch chains (clauses may
    carry SpanOr alternatives — union positions). idf = Σ idf over the
    DISTINCT terms of big ∪ little (Lucene's SpanContainQuery weight merges
    both sides' term states into one sim weight, each term once). A term
    may appear in both big and little (the little query is typically a
    fragment of the big one); repeats WITHIN either side are rejected.
    None when any clause of either side has no present alternative — the
    contain relation then provably matches nothing."""
    if mode not in ("containing", "within"):
        raise ValueError(f"mode must be containing|within, got {mode!r}")
    nb, nl = len(big), len(little)
    if nb < 1 or nl < 1 or any(not c for c in (*big, *little)):
        raise ValueError("big and little each need >= 1 non-empty clause")
    for side, cl in (("big", big), ("little", little)):
        flat = [t for c in cl for t in c]
        if len(set(flat)) != len(flat):
            raise ValueError(
                f"repeated clause terms within the {side} span are not "
                "supported (Lucene's repeats machinery)"
            )
    _require_positions(rd, "span")
    f_docs, _f_sdl, f_avgdl = rd.field_stats_of(fld)
    if f_docs == 0:
        return None
    stats, present = _present_terms(rd, fld, [*big, *little])
    if any(not c for c in present):
        return None
    idf_sum = float(sum(
        rd.idf(stats[t][0], f_docs)
        for t in dict.fromkeys(t for c in present for t in c)
    ))

    def contain_pf(pos_by_slot: list[np.ndarray], s: int) -> float:
        raw, _ = _split_excl(pos_by_slot, nb + nl)
        big_chains = ordered_span_chains(raw[:nb], big_slop)
        if not big_chains:
            return 0.0
        little_chains = ordered_span_chains(raw[nb:], little_slop)
        if not little_chains:
            return 0.0
        lit = [(c[0], c[-1] + 1) for c in little_chains]
        total = 0.0
        if mode == "containing":
            for b in big_chains:
                bs, be = b[0], b[-1] + 1
                if any(bs <= ls and le <= be for ls, le in lit):
                    total += 1.0 / (1.0 + (be - bs - nb))
        else:  # within
            bigi = [(c[0], c[-1] + 1) for c in big_chains]
            for ls, le in lit:
                if any(bs <= ls and le <= be for bs, be in bigi):
                    total += 1.0 / (1.0 + (le - ls - nl))
        return total

    # slots 0..nb-1 = big clauses, nb..nb+nl-1 = little clauses; a term in
    # both sides fills both slots
    return _positional_doc_scores(
        rd, fld, stats, _slot_map(enumerate(present)), idf_sum, f_avgdl,
        del_ids, filter_cond, freq_of=contain_pf,
    )


def _search_span_contain(
    spark: SparkSession,
    index_dir: str,
    big: str | list[str | dict],
    little: str | list[str | dict],
    mode: str,
    big_slop: int,
    little_slop: int,
    k: int,
    filter_cond: Column | str | None,
    reader: IndexReader | None,
    float32: bool,
    field: str | None,
) -> DataFrame:
    if big_slop < 0 or little_slop < 0:
        raise ValueError("slop must be >= 0")
    rd = reader or IndexReader(spark, index_dir)
    big_c = _parse_clauses(rd, big, field)
    little_c = _parse_clauses(rd, little, field)
    return _positional_topk(
        spark, rd, k, field, float32,
        lambda fld, del_ids: span_contain_doc_scores(
            spark, rd, big_c, little_c, fld, big_slop, little_slop, mode,
            del_ids=del_ids, filter_cond=filter_cond,
        ),
        no_match=not big_c or not little_c,
    )


def search_span_containing(
    spark: SparkSession,
    index_dir: str,
    big: str | list[str | dict],
    little: str | list[str | dict],
    big_slop: int = 0,
    little_slop: int = 0,
    k: int = 10,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
) -> DataFrame:
    """Top-k SpanContainingQuery BM25 search: spans of ``big`` (an ordered
    span-near; lists give per-clause SpanOr alternatives) that ENCLOSE at
    least one span of ``little`` — big.start <= little.start AND
    little.end <= big.end. Survivors keep big's sloppyFreq weight; idf sums
    the DISTINCT terms of both sides once each (the two weights merge into
    one sim weight). Returns (doc_id, score, conv_id, turn_idx)."""
    return _search_span_contain(
        spark, index_dir, big, little, "containing", big_slop, little_slop,
        k, filter_cond, reader, float32, field,
    )


def search_span_within(
    spark: SparkSession,
    index_dir: str,
    big: str | list[str | dict],
    little: str | list[str | dict],
    big_slop: int = 0,
    little_slop: int = 0,
    k: int = 10,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
) -> DataFrame:
    """Top-k SpanWithinQuery BM25 search: spans of ``little`` that lie
    INSIDE at least one span of ``big`` (the containment dual — survivors
    keep little's sloppyFreq weight). Same idf merge as containing."""
    return _search_span_contain(
        spark, index_dir, big, little, "within", big_slop, little_slop,
        k, filter_cond, reader, float32, field,
    )


def search_span_near(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str | dict],
    slop: int = 0,
    k: int = 10,
    in_order: bool = True,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    exclude: str | None = None,
    pre: int = 0,
    post: int = 0,
) -> DataFrame:
    """Top-k span-near BM25 search. in_order=True (default): the clauses of
    ``query`` must occur in the given order within ``slop`` total gap
    positions (NearSpansOrdered). in_order=False: the clauses may occur in
    ANY order within the slop window (NearSpansUnordered — a genuinely
    different surface from the sloppy PhraseQuery: different match
    enumeration AND a different per-match weight, see module docstring).

    ``query`` may be a list of clause strings, each analyzed into that
    clause's ALTERNATIVE terms (SpanOrQuery inside the near — matches at
    the union of the alternatives' positions). A DICT clause is the
    SpanMultiTermQueryWrapper analog: ``{"prefix": "sor"}`` /
    ``{"wildcard": "s?rt"}`` / ``{"fuzzy": "sorr"}`` / ``{"regexp":
    "so.+"}`` / ``{"term_range": ("sa", "so")}`` (optional
    ``max_expansions``/``max_edits``) is rewritten against the term
    dictionary into that clause's alternatives — Lucene's SpanOr scoring
    rewrite; a pattern matching no term makes the whole query match
    nothing (SpanMatchNoDocs), and TooManyClauses applies. ``exclude`` wraps the whole
    query in a SpanNotQuery: its analyzed terms' occurrences, widened by
    ``pre`` positions before / ``post`` after, veto overlapping spans
    (exclusion terms contribute no idf, as in SpanNotWeight). Returns
    (doc_id, score, conv_id, turn_idx); composes with filter_cond and
    tombstones like every other search surface."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    rd = reader or IndexReader(spark, index_dir)
    clauses = _parse_clauses(rd, query, field)
    excl_terms = rd.analyze(exclude) if exclude else []
    if len(clauses) == 1 and not excl_terms:
        # SpanNear of one clause degenerates to the clause itself: a bare
        # term span scores as the pseudo-term phrase (pf = tf), an or-span
        # as the SpanOr pseudo-term (pf = Σ tf).
        if len(clauses[0]) == 1:
            from cuvs_lucene_spark.query import search_phrase

            return search_phrase(
                spark, index_dir, clauses[0][0], k=k, filter_cond=filter_cond,
                reader=rd, float32=float32, field=field,
            )
        return search_span_or(
            spark, index_dir, clauses[0], k=k, filter_cond=filter_cond,
            reader=rd, float32=float32, field=field, _pre_analyzed=True,
        )
    return _positional_topk(
        spark, rd, k, field, float32,
        lambda fld, del_ids: span_near_doc_scores(
            spark, rd, clauses, fld, slop, del_ids=del_ids,
            filter_cond=filter_cond, in_order=in_order,
            exclude=excl_terms or None, pre=pre, post=post,
        ),
        no_match=not clauses,
    )


def search_span_range(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str | dict],
    start: int = 0,
    end: int | None = None,
    slop: int = 0,
    k: int = 10,
    in_order: bool = True,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    exclude: str | None = None,
    pre: int = 0,
    post: int = 0,
) -> DataFrame:
    """Top-k SpanPositionRangeQuery BM25 search: spans of the inner span
    query that START at position >= ``start`` and (when ``end`` is given)
    END at position + 1 <= ``end``. SpanFirstQuery is the start=0 special
    case (search_span_first delegates here). One analyzed term = a filtered
    term span (each surviving occurrence contributes 1 to the pseudo-term
    frequency); two or more = a span-near (ordered by default,
    ``in_order=False`` for the unordered walk) with both bounds applied
    inside the SAME enumeration — Lucene's FilterSpans drops non-accepted
    spans without changing the enumeration or the per-match weight.
    ``query`` as a list gives per-clause SpanOr alternatives and
    ``exclude``/``pre``/``post`` the SpanNot veto, all composing in one
    enumeration. Returns (doc_id, score, conv_id, turn_idx); composes with
    filter_cond and tombstones like every other search surface."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    if start < 0:
        raise ValueError("start must be >= 0")
    if start == 0 and end is None:
        # no positional bound at all: the query IS its inner span — reuse
        # search_span_near's routing (incl. the single-clause degenerations)
        return search_span_near(
            spark, index_dir, query, slop=slop, k=k, in_order=in_order,
            filter_cond=filter_cond, reader=reader, float32=float32,
            field=field, exclude=exclude, pre=pre, post=post,
        )
    rd = reader or IndexReader(spark, index_dir)
    clauses = _parse_clauses(rd, query, field)
    excl_terms = rd.analyze(exclude) if exclude else []
    return _positional_topk(
        spark, rd, k, field, float32,
        lambda fld, del_ids: span_near_doc_scores(
            spark, rd, clauses, fld, slop, del_ids=del_ids,
            filter_cond=filter_cond, in_order=in_order,
            max_end=int(end) if end is not None else None,
            exclude=excl_terms or None, pre=pre, post=post,
            min_start=int(start) if start > 0 else None,
        ),
        # an n-clause span occupies >= n positions: start > end - n is
        # provably empty without running a job
        no_match=not clauses or (
            end is not None and (end < 1 or start > end - len(clauses))
        ),
    )


def search_span_first(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str | dict],
    end: int,
    slop: int = 0,
    k: int = 10,
    in_order: bool = True,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    exclude: str | None = None,
    pre: int = 0,
    post: int = 0,
) -> DataFrame:
    """Top-k SpanFirstQuery BM25 search: spans of the inner span query that
    END within the first ``end`` positions of the document (span end =
    last matched position + 1 <= end) — SpanPositionRangeQuery with
    start=0; delegates to search_span_range."""
    return search_span_range(
        spark, index_dir, query, start=0, end=end, slop=slop, k=k,
        in_order=in_order, filter_cond=filter_cond, reader=reader,
        float32=float32, field=field, exclude=exclude, pre=pre, post=post,
    )


def search_span_or(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str | dict],
    k: int = 10,
    filter_cond: Column | str | None = None,
    reader: IndexReader | None = None,
    float32: bool = True,
    field: str | None = None,
    _pre_analyzed: bool = False,
) -> DataFrame:
    """Top-k SpanOrQuery BM25 search: the union of the analyzed terms'
    spans scored as ONE pseudo-term — every occurrence of any term is a
    width-0 span contributing sloppyFreq(0) = 1, so pf = Σ tf over the
    matched terms, with idf = Σ idf over the PRESENT terms (SpanWeight
    gathers all terms of the tree into one sim weight; zero-docFreq terms
    are skipped as IndexSearcher.termStatistics does). This differs from
    the OR disjunction (per-term saturation then sum) and from Lucene's
    SynonymQuery (max-df idf): the union saturates jointly.

    Positions are never read — pf needs only tfs — so this surface works
    on non-positional indexes too, with a postings scan pruned to the
    terms' buckets and no positional payload shipped. Returns (doc_id,
    score, conv_id, turn_idx)."""
    rd = reader or IndexReader(spark, index_dir)
    if _pre_analyzed:
        # internal: query is a list of post-analysis terms (e.g. a one-clause
        # near whose clause was dictionary-expanded) — re-analysis would
        # re-stem dictionary entries
        terms = list(query)
    elif isinstance(query, str):
        terms = rd.analyze(query)
    else:
        # list elements: str -> analyzed alternatives; dict -> multi-term
        # pattern expanded against the dictionary (SpanMultiTermQueryWrapper
        # rewrite — expansion terms are post-analysis, used verbatim)
        terms = []
        for c in query:
            if isinstance(c, dict):
                terms.extend(_expand_clause(rd, c, field))
            else:
                terms.extend(rd.analyze(c))
    terms = list(dict.fromkeys(terms))
    return _positional_topk(
        spark, rd, k, field, float32,
        lambda fld, del_ids: _summed_tf_scores(
            rd, terms, fld, del_ids, filter_cond,
            lambda dfs, n: float(sum(rd.idf(df, n) for df in dfs)),
        ),
        no_match=not terms,
    )
