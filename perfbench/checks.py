"""Answer checks, run after the timed region.

Bag-of-words answers (`search`, `search_batch`) are compared with the numpy
BM25 oracle of ``cuvs_lucene_spark.oracle`` on ``(conv_id, turn_idx)`` and
score, at the tolerance ``tests/test_engine.py`` uses. Phrase and span answers
are checked against a brute-force positional count over the corpus text,
written here so that it shares nothing with the engine's positional kernels.
Every check returns ``None`` when the answer is right and a one-line reason
when it is wrong.
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

from cuvs_lucene_spark.analysis import BM25_B, BM25_K1, tokenize_py
from cuvs_lucene_spark.oracle import OracleIndex, build_oracle_index, oracle_search

# tests/test_engine.py: scores agree within 1e-5 (float32 target)
SCORE_TOL = 1e-5

Key = tuple[str, int]
Row = tuple[str, int, float]  # (conv_id, turn_idx, score)


@dataclass
class Snapshot:
    """What an index snapshot should answer.

    ``oracle`` is built over every doc whose statistics the index still
    counts (all ingested docs until a compaction purges the deleted ones);
    ``live`` masks the docs a query may return, in oracle doc order.
    """

    oracle: OracleIndex
    live: np.ndarray
    keys: list[Key]
    tokens: list[list[str]]
    deleted: frozenset

    @classmethod
    def build(cls, pdf: pd.DataFrame, deleted: set[Key] = frozenset()) -> "Snapshot":
        oracle = build_oracle_index(pdf)
        keys = list(zip(oracle.meta["conv_id"], oracle.meta["turn_idx"].astype(int)))
        live = np.array([k not in deleted for k in keys], dtype=bool)
        texts = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")["text"]
        return cls(oracle, live, keys, [tokenize_py(t) for t in texts], frozenset(deleted))


def _no_deleted(snap: Snapshot, got: list[Row]) -> str | None:
    bad = [(c, t) for c, t, _ in got if (c, t) in snap.deleted]
    return f"deleted keys returned: {bad[:3]}" if bad else None


def check_bow(
    snap: Snapshot,
    query: str,
    mode: str,
    k: int,
    got: list[Row],
    accept: np.ndarray | None = None,
) -> str | None:
    """Rank-identical top-k with scores within SCORE_TOL of the oracle."""
    if (why := _no_deleted(snap, got)) is not None:
        return why
    mask = snap.live if accept is None else snap.live & accept
    exp = oracle_search(snap.oracle, query, k=k, mode=mode, accept=mask)
    exp_keys = [snap.keys[d] for d, _ in exp]
    got_keys = [(c, t) for c, t, _ in got]
    if got_keys != exp_keys:
        i = next((i for i, (g, e) in enumerate(zip(got_keys, exp_keys)) if g != e),
                 min(len(got_keys), len(exp_keys)))
        return (f"{mode} {query!r}: rank {i} is {got_keys[i:i + 1]}, oracle "
                f"{exp_keys[i:i + 1]} ({len(got_keys)} vs {len(exp_keys)} hits)")
    for (c, t, gs), (_, es) in zip(got, exp):
        if abs(gs - es) >= SCORE_TOL:
            return f"{mode} {query!r}: score {gs} != oracle {es} for {(c, t)}"
    return None


# -- brute-force positional matching -------------------------------------

def _positions(toks: list[str], terms: list[str]) -> list[list[int]]:
    return [[i for i, w in enumerate(toks) if w == t] for t in terms]


def exact_phrase_count(toks: list[str], terms: list[str]) -> int:
    n = len(terms)
    return sum(1 for i in range(len(toks) - n + 1) if toks[i:i + n] == terms)


def sloppy_phrase_match(toks: list[str], terms: list[str], slop: int) -> bool:
    """Lucene sloppy PhraseQuery: some choice of one position per slot whose
    slot-adjusted positions (pos - slot) span at most ``slop``. Slot terms
    are distinct, so distinct slots never share a position."""
    adj = [sorted(p - j for p in ps) for j, ps in enumerate(_positions(toks, terms))]
    if any(not a for a in adj):
        return False
    for lo in adj[0] + [q for a in adj[1:] for q in a]:
        if all(
            (i := bisect.bisect_left(a, lo)) < len(a) and a[i] <= lo + slop
            for a in adj
        ):
            return True
    return False


def ordered_near_match(toks: list[str], terms: list[str], slop: int) -> bool:
    """Lucene ordered SpanNearQuery: strictly increasing positions, one per
    clause in clause order, whose total gap is at most ``slop``."""
    pos = _positions(toks, terms)
    if any(not p for p in pos):
        return False
    for start in pos[0]:
        prev, ok = start, True
        for p in pos[1:]:
            i = bisect.bisect_right(p, prev)
            if i == len(p):
                ok = False
                break
            prev = p[i]
        if ok and (prev - start) - (len(terms) - 1) <= slop:
            return True
    return False


def _candidates(snap: Snapshot, terms: list[str]) -> list[int]:
    """Live docs holding every term (oracle postings intersection)."""
    sets = []
    for t in terms:
        if t not in snap.oracle.postings:
            return []
        sets.append(set(snap.oracle.postings[t][0].tolist()))
    return sorted(d for d in set.intersection(*sets) if snap.live[d])


def _phrase_score(snap: Snapshot, terms: list[str], pf: int, d: int) -> float:
    o = snap.oracle
    idf = 0.0
    for t in terms:
        df = len(o.postings[t][0])
        idf += math.log(1.0 + (o.n_docs - df + 0.5) / (df + 0.5))
    norm = BM25_K1 * (1 - BM25_B + BM25_B * float(o.dl_d[d]) / o.avgdl)
    return idf * pf / (pf + norm)


def check_positional(
    snap: Snapshot, kind: str, terms: list[str], slop: int, k: int, got: list[Row]
) -> str | None:
    """kind="phrase" (PhraseQuery) or "span" (ordered SpanNearQuery).

    Every returned doc must match and be live, the hit count must be
    min(k, matching live docs), scores must not increase down the list, and
    for an exact phrase each score must equal the BM25 phrase score from the
    brute-force occurrence count, and no better-scoring doc may be missing.
    """
    if (why := _no_deleted(snap, got)) is not None:
        return why
    label = f"{kind}/{slop} {' '.join(terms)!r}"
    cand = _candidates(snap, terms)
    if kind == "phrase" and slop == 0:
        counts = {d: exact_phrase_count(snap.tokens[d], terms) for d in cand}
        exp = {snap.keys[d]: _phrase_score(snap, terms, n, d) for d, n in counts.items() if n}
    else:
        match = sloppy_phrase_match if kind == "phrase" else ordered_near_match
        exp = {snap.keys[d]: None for d in cand if match(snap.tokens[d], terms, slop)}
    keys = [(c, t) for c, t, _ in got]
    if len(set(keys)) != len(keys):
        return f"{label}: duplicate hits"
    if len(got) != min(k, len(exp)):
        return f"{label}: {len(got)} hits, expected {min(k, len(exp))}"
    scores = [s for _, _, s in got]
    if any(b > a + SCORE_TOL * max(1.0, abs(a)) for a, b in zip(scores, scores[1:])):
        return f"{label}: scores not descending"
    for key, s in zip(keys, scores):
        if key not in exp:
            return f"{label}: {key} does not match"
        if exp[key] is not None and abs(s - exp[key]) > SCORE_TOL * max(1.0, exp[key]):
            return f"{label}: score {s} != brute force {exp[key]} for {key}"
    if kind == "phrase" and slop == 0 and got:
        floor = min(scores) + SCORE_TOL * max(1.0, min(scores))
        missed = [key for key, e in exp.items() if key not in set(keys) and e > floor]
        if missed:
            return f"{label}: better-scoring {missed[0]} missing"
    return None
