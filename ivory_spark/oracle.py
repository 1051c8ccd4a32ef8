"""Single-node numpy oracle — the transparent reference implementation.

Plays the role of Ivory's blessed golden outputs
(src/java/regression/ivory/regression/basic/Robust04_Basic.java:43-317):
a slow, obviously-correct implementation of the full pipeline semantics
(dedup → docno → tokenize → stats → BM25 top-k with score-desc /
docno-desc tie-break) whose results the Spark engine must reproduce
rank-identically with bit-identical float32 scores.

Shares the tokenizer (functions.tokenizer.tokenize_py) and the scoring /
accumulation kernels (functions.scoring) with the engine, so any
divergence localizes to the distributed plumbing — which is exactly what
the tests are meant to catch.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from ivory_spark.functions.scoring import (
    F32,
    bm25_idf,
    bm25_tf_part,
    group_sum_f32,
)
from ivory_spark.functions.tokenizer import get_tokenizer


@dataclass
class OracleIndex:
    n_docs: int
    collection_length: int
    avgdl: float
    docids: dict[int, str]  # docno -> display id
    doclens: dict[int, int]
    dictionary: dict[str, tuple[int, int, int]]  # term -> (termid, df, cf)
    postings: dict[str, list[tuple[int, int]]]  # term -> [(docno, tf)] doc-sorted
    positions: dict[str, dict[int, list[int]]] = None  # term -> docno -> positions
    tokenizer: str = "code_v1"


def build_oracle_index(
    corpus: pd.DataFrame, min_df: int = 1, tokenizer: str = "code_v1"
) -> OracleIndex:
    from ivory_spark.functions.tokenizer import _positions_from_tokens, get_tokenizer

    tokenize = get_tokenizer(tokenizer).tokenize_py
    df = corpus.copy()
    df["sha256"] = df["content"].map(lambda c: hashlib.sha256(c.encode()).hexdigest())
    # dedup: keep the minimal (repo, path, commit) identity per content hash
    df = df.sort_values(["repo", "path", "commit"]).drop_duplicates("sha256", keep="first")
    df = df.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    df["docno"] = np.arange(1, len(df) + 1, dtype=np.int64)

    doclens: dict[int, int] = {}
    postings: dict[str, list[tuple[int, int]]] = {}
    positions: dict[str, dict[int, list[int]]] = {}
    docids: dict[int, str] = {}
    for row in df.itertuples(index=False):
        tp = _positions_from_tokens(tokenize(row.content))
        dl = sum(len(p) for p in tp.values())
        doclens[row.docno] = dl
        docids[row.docno] = f"{row.repo}/{row.path}@{row.commit}"
        for term, pos in tp.items():
            postings.setdefault(term, []).append((row.docno, len(pos)))
            positions.setdefault(term, {})[int(row.docno)] = pos

    stats = {t: (len(pl), sum(tf for _, tf in pl)) for t, pl in postings.items()}
    kept = {t: s for t, s in stats.items() if s[0] >= min_df}
    ordered = sorted(kept.items(), key=lambda kv: (-kv[1][0], kv[0]))
    dictionary = {
        t: (i + 1, dfcf[0], dfcf[1]) for i, (t, dfcf) in enumerate(ordered)
    }
    postings = {t: sorted(pl) for t, pl in postings.items() if t in dictionary}
    positions = {t: p for t, p in positions.items() if t in dictionary}
    clen = sum(doclens.values())
    n = len(df)
    return OracleIndex(
        tokenizer=tokenizer,
        n_docs=n,
        collection_length=clen,
        avgdl=(clen / n) if n else 0.0,
        docids=docids,
        doclens=doclens,
        dictionary=dictionary,
        postings=postings,
        positions=positions,
    )


def oracle_topk_weighted(
    oi: OracleIndex,
    wqueries: list[dict],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf_mode: str = "okapi",
    priors: dict[int, float] | None = None,
    prior_weight: float = 1.0,
) -> dict[str, list[dict]]:
    """Weighted-query (#weight/#combine) + optional additive doc-prior
    scoring — mirrors exact.bm25_topk(weighted=True, priors=...)."""
    out: dict[str, list[dict]] = {}
    pw = F32(prior_weight)
    for q in wqueries:
        docno_parts, termid_parts, contrib_parts = [], [], []
        for term, weight in sorted(q["terms"]):
            meta = oi.dictionary.get(term)
            if meta is None:
                continue
            termid, df, _cf = meta
            pl = oi.postings[term]
            docnos = np.array([d for d, _ in pl], dtype=np.int64)
            tfs = np.array([tf for _, tf in pl], dtype=np.int64)
            dls = np.array([oi.doclens[int(d)] for d in docnos], dtype=np.int64)
            idf = bm25_idf(oi.n_docs, np.array([df]), mode=idf_mode)[0]
            contrib = F32(weight) * (np.float32(idf) * bm25_tf_part(tfs, dls, oi.avgdl, k1, b))
            docno_parts.append(docnos)
            termid_parts.append(np.full(len(docnos), termid, dtype=np.int64))
            contrib_parts.append(contrib)
        if not docno_parts:
            out[q["qid"]] = []
            continue
        d, s = group_sum_f32(
            np.concatenate(docno_parts),
            np.concatenate(termid_parts),
            np.concatenate(contrib_parts),
        )
        if priors is not None:
            p = np.array([priors.get(int(x), 0.0) for x in d], dtype=np.float32)
            s = s + pw * p
        sel = np.lexsort((-d, -s.astype(np.float64)))[:k]
        out[q["qid"]] = [
            {"docno": int(d[i]), "docid": oi.docids[int(d[i])], "score": s[i]}
            for i in sel
        ]
    return out


def oracle_scored_topk(
    oi: OracleIndex,
    queries: list[dict],
    scorer: str = "dirichlet",
    params: dict | None = None,
    k: int = 10,
) -> dict[str, list[dict]]:
    """Golden twin of run_batch's non-BM25 scorers (the serve kernel's
    LocalSearcher.search(scorer=...)): candidates = docs matching
    >= 1 in-dictionary query term; LM scorers (dirichlet, jm) score every
    query term per candidate (tf=0 background, as
    DirichletScoringFunction.java:30-66 smoothes absent terms);
    tf-proportional scorers (tfidf, f2exp) skip absent terms."""
    from ivory_spark.functions.scoring import (
        dirichlet_score,
        f2exp_score,
        jelinek_mercer_score,
        tfidf_score,
    )

    params = params or {}
    lm = scorer in ("dirichlet", "jm")
    out: dict[str, list[dict]] = {}
    for q in queries:
        qterms = Counter(get_tokenizer(oi.tokenizer).tokenize_py(q["query"]))
        resolved = [
            (t, qtf, *oi.dictionary[t])
            for t, qtf in sorted(qterms.items())
            if t in oi.dictionary
        ]
        cand = sorted({d for t, *_ in resolved for d, _ in oi.postings[t]})
        docno_parts, termid_parts, contrib_parts = [], [], []
        for term, qtf, termid, df, cf in resolved:
            pl = dict(oi.postings[term])
            if lm:
                docnos = np.array(cand, dtype=np.int64)
                tfs = np.array([pl.get(int(d), 0) for d in docnos], dtype=np.int64)
            else:
                docnos = np.array(sorted(pl), dtype=np.int64)
                tfs = np.array([pl[int(d)] for d in docnos], dtype=np.int64)
            dls = np.array([oi.doclens[int(d)] for d in docnos], dtype=np.int64)
            if scorer == "dirichlet":
                base = dirichlet_score(
                    tfs, dls, np.full(len(docnos), cf), oi.collection_length,
                    params.get("mu", 2500.0),
                )
            elif scorer == "jm":
                base = jelinek_mercer_score(
                    tfs, dls, np.full(len(docnos), cf), oi.collection_length,
                    params.get("lambda", 0.5),
                )
            elif scorer == "tfidf":
                base = tfidf_score(tfs, np.full(len(docnos), df), oi.n_docs)
            elif scorer == "f2exp":
                base = f2exp_score(
                    tfs, dls, np.full(len(docnos), df), oi.n_docs, oi.avgdl,
                    params.get("s", 0.5), params.get("k", 1.0),
                )
            else:
                raise ValueError(scorer)
            contrib = F32(qtf) * base
            docno_parts.append(docnos)
            termid_parts.append(np.full(len(docnos), termid, dtype=np.int64))
            contrib_parts.append(contrib)
        if not docno_parts:
            out[q["qid"]] = []
            continue
        d, s = group_sum_f32(
            np.concatenate(docno_parts),
            np.concatenate(termid_parts),
            np.concatenate(contrib_parts),
        )
        sel = np.lexsort((-d, -s.astype(np.float64)))[:k]
        out[q["qid"]] = [
            {"docno": int(d[i]), "docid": oi.docids[int(d[i])], "score": s[i]}
            for i in sel
        ]
    return out


def oracle_topk(
    oi: OracleIndex,
    queries: list[dict],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf_mode: str = "okapi",
) -> dict[str, list[dict]]:
    """qid -> ranked [{docno, docid, score(np.float32)}], Ivory tie-break."""
    out: dict[str, list[dict]] = {}
    for q in queries:
        qterms = Counter(get_tokenizer(oi.tokenizer).tokenize_py(q["query"]))
        docno_parts, termid_parts, contrib_parts = [], [], []
        for term, qtf in qterms.items():
            meta = oi.dictionary.get(term)
            if meta is None:
                continue  # OOV: contributes nothing (tf 0 → BM25 0)
            termid, df, _cf = meta
            pl = oi.postings[term]
            docnos = np.array([d for d, _ in pl], dtype=np.int64)
            tfs = np.array([tf for _, tf in pl], dtype=np.int64)
            dls = np.array([oi.doclens[int(d)] for d in docnos], dtype=np.int64)
            idf = bm25_idf(oi.n_docs, np.array([df]), mode=idf_mode)[0]
            contrib = F32(qtf) * (np.float32(idf) * bm25_tf_part(tfs, dls, oi.avgdl, k1, b))
            docno_parts.append(docnos)
            termid_parts.append(np.full(len(docnos), termid, dtype=np.int64))
            contrib_parts.append(contrib)
        if not docno_parts:
            out[q["qid"]] = []
            continue
        d, s = group_sum_f32(
            np.concatenate(docno_parts),
            np.concatenate(termid_parts),
            np.concatenate(contrib_parts),
        )
        sel = np.lexsort((-d, -s.astype(np.float64)))[:k]
        out[q["qid"]] = [
            {"docno": int(d[i]), "docid": oi.docids[int(d[i])], "score": s[i]}
            for i in sel
        ]
    return out
