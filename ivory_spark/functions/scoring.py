"""Scoring functions — float32, Ivory-semantics.

Reference formulas reproduced (not copied):
- BM25: score = idf * ((k1+1)*tf) / (k1*((1-b) + b*dl/avgdl) + tf),
  defaults k1=1.2 b=0.75, idf variants okapi (default)
  log((N-df+0.5)/(df+0.5)), classic log(N/df), okapi-positive
  log((N+0.5)/(df+0.5)), none
  (ivory/smrf/model/score/BM25ScoringFunction.java:30-89);
- term upper bound maxScore = (k1+1)*idf clamped >= 0
  (BM25ScoringFunction.java:73-89) — the MaxScore pruning bound;
- Dirichlet QL: log((tf + mu*cf/|C|) / (dl + mu)), mu=2500
  (DirichletScoringFunction.java:30-66);
- Jelinek-Mercer: log((1-λ)*tf/dl + λ*cf/|C|), λ=0.5
  (JelinekMercerScoringFunction.java);
- TF-IDF family (TFIDFScoringFunction.java et al.).

Scores are float (not double) throughout Ivory
(smrf/retrieval/Accumulator.java:31), so rank-identity means float32
arithmetic. All kernels here are NumPy-vectorized and are the single
source of truth: the oracle, the exact DataFrame path (via Arrow UDF),
and the WAND kernel all call these same functions, which is what makes
bit-identical scores across build/scorer variants achievable.

Canonical accumulation rule (ours, documented): a document's score is
np.add.reduceat's float32 fold over its per-term float32 contributions
sorted by termid, with duplicate query terms folded to a float32 qtf
multiplier. One step applies it (_fold_sorted) to rows already in
(docno, termid) order. group_sum_f32 gets that order from rows in any
order with one lexsort; docno_fold_f32 gets it from termid-major input
(contributions term by term in ascending termid order, as the serve
path hands over its postings) with one stable docno argsort. On numpy
1.26 that fold is c0 + pairwise(c1, ...), not a left fold: numpy's
pairwise sum adds up to 8 terms in order and more through 8 strided
accumulators combined as a tree (tests/test_property.py pins the bits).
Ivory sums per-clique in query order; any fixed order is equally faithful
— what matters is that every component uses the same one.
"""

from __future__ import annotations

import numpy as np

F32 = np.float32
K1_DEFAULT = 1.2
B_DEFAULT = 0.75
MU_DEFAULT = 2500.0
LAMBDA_DEFAULT = 0.5


def bm25_idf(N: int, df: np.ndarray, mode: str = "okapi") -> np.ndarray:
    """float32 idf (double log cast to float, as Java's (float) Math.log)."""
    df = np.asarray(df, dtype=np.float64)
    if mode == "okapi":
        v = np.log((N - df + 0.5) / (df + 0.5))
    elif mode == "classic":
        v = np.log(N / df)
    elif mode == "okapi-positive":
        v = np.log((N + 0.5) / (df + 0.5))
    elif mode == "none":
        v = np.ones_like(df)
    else:
        raise ValueError(f"unknown idf mode: {mode}")
    return v.astype(np.float32)


def bm25_tf_part(
    tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float = K1_DEFAULT, b: float = B_DEFAULT
) -> np.ndarray:
    """float32 ((k1+1)*tf) / (k1*((1-b)+b*dl/avgdl) + tf)."""
    k1f, bf = F32(k1), F32(b)
    tff = np.asarray(tf, dtype=np.float32)
    dlf = np.asarray(dl, dtype=np.float32)
    num = (k1f + F32(1.0)) * tff
    den = k1f * ((F32(1.0) - bf) + bf * (dlf / F32(avgdl))) + tff
    return num / den


def bm25_score(
    tf: np.ndarray,
    dl: np.ndarray,
    df: np.ndarray | int,
    N: int,
    avgdl: float,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    idf_mode: str = "okapi",
) -> np.ndarray:
    idf = bm25_idf(N, np.asarray(df), mode=idf_mode)
    return idf.astype(np.float32) * bm25_tf_part(tf, dl, avgdl, k1, b)


def bm25_max_score(N: int, df: np.ndarray, k1: float = K1_DEFAULT, idf_mode: str = "okapi") -> np.ndarray:
    """Term-level upper bound (k1+1)*idf, clamped >= 0."""
    ub = (F32(k1) + F32(1.0)) * bm25_idf(N, np.asarray(df), mode=idf_mode)
    return np.maximum(ub, F32(0.0))


def dirichlet_score(
    tf: np.ndarray, dl: np.ndarray, cf: np.ndarray | int, collection_len: int, mu: float = MU_DEFAULT
) -> np.ndarray:
    """float32 log((tf + mu*cf/|C|) / (dl + mu)); OOV handled by caller."""
    tff = np.asarray(tf, dtype=np.float64)
    dlf = np.asarray(dl, dtype=np.float64)
    cff = np.asarray(cf, dtype=np.float64)
    bg = mu * (cff / float(collection_len))
    return np.log((tff + bg) / (dlf + mu)).astype(np.float32)


def jelinek_mercer_score(
    tf: np.ndarray, dl: np.ndarray, cf: np.ndarray | int, collection_len: int,
    lam: float = LAMBDA_DEFAULT,
) -> np.ndarray:
    tff = np.asarray(tf, dtype=np.float64)
    dlf = np.maximum(np.asarray(dl, dtype=np.float64), 1.0)
    cff = np.asarray(cf, dtype=np.float64)
    return np.log((1.0 - lam) * (tff / dlf) + lam * (cff / float(collection_len))).astype(
        np.float32
    )


def f2exp_score(
    tf: np.ndarray, dl: np.ndarray, df: np.ndarray | int, N: int, avgdl: float,
    s: float = 0.5, k: float = 1.0,
) -> np.ndarray:
    """Axiomatic F2EXP (F2EXPScoringFunction.java:1-52):
    ((N+1)/df)^k * tf / (tf + s + s*dl/avgdl)."""
    tff = np.asarray(tf, dtype=np.float64)
    dlf = np.asarray(dl, dtype=np.float64)
    dff = np.asarray(df, dtype=np.float64)
    idf = np.power((N + 1.0) / dff, k)
    return (idf * tff / (tff + s + s * (dlf / avgdl))).astype(np.float32)


def tfidf_score(tf: np.ndarray, df: np.ndarray | int, N: int) -> np.ndarray:
    tff = np.asarray(tf, dtype=np.float64)
    dff = np.asarray(df, dtype=np.float64)
    return (tff * np.log(N / dff)).astype(np.float32)


def f32_ordered_sum(contribs: np.ndarray) -> np.float32:
    """Canonical float32 accumulation over the (already termid-sorted)
    contributions: np.add.reduceat's c0 + pairwise(c1, ...) fold, the
    one group_sum_f32 applies, so oracle / exact path / WAND kernel /
    serve kernel share one reduction algorithm and therefore one
    rounding behavior."""
    arr = np.ascontiguousarray(contribs, dtype=np.float32)
    if arr.size == 0:
        return F32(0.0)
    return np.add.reduceat(arr, np.array([0]))[0]


def _fold_sorted(d: np.ndarray, c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The canonical fold of rows already in (docno, termid) order: a
    reduceat per docno group (c0 + pairwise(c1, ...), see the module
    docstring). -> (unique_docnos, scores_f32)."""
    first = np.empty(len(d), dtype=bool)
    first[0] = True
    np.not_equal(d[1:], d[:-1], out=first[1:])
    starts = first.nonzero()[0]
    return d[starts], np.add.reduceat(np.ascontiguousarray(c, dtype=np.float32), starts)


def group_sum_f32(
    docnos: np.ndarray, termids: np.ndarray, contribs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-docno canonical float32 score of (docno, termid, contrib) rows
    in any order: sort by (docno, termid), then _fold_sorted. Returns
    (unique_docnos, scores_f32). Single source of truth for all scorer
    implementations."""
    if len(docnos) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    order = np.lexsort((termids, docnos))
    return _fold_sorted(np.asarray(docnos)[order], np.asarray(contribs)[order])


def docno_fold_f32(docnos: np.ndarray, contribs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """group_sum_f32 over termid-major input: contributions given term by
    term in ascending termid order. One stable docno argsort then gives
    the (docno, termid) order lexsort((termids, docnos)) gives, and
    _fold_sorted folds it, so the serve path shares the one fold without
    a termid column. Returns (unique_docnos, scores_f32)."""
    if len(docnos) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    order = np.argsort(docnos, kind="stable")
    return _fold_sorted(np.asarray(docnos)[order], np.asarray(contribs)[order])


SCORERS = {
    "bm25": bm25_score,
    "dirichlet": dirichlet_score,
    "jm": jelinek_mercer_score,
    "tfidf": tfidf_score,
    "f2exp": f2exp_score,
}
