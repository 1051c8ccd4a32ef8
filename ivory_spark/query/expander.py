"""Pseudo-relevance-feedback query expansion (MRFExpander analogue).

Reference shape: ivory/smrf/model/expander/MRFExpander.java + the
UnigramLatentConcept expanders, wired at
ivory/smrf/retrieval/BatchQueryRunner.java:131-137 — run the original
query, mine expansion concepts from the top fbDocs documents, re-run an
expanded model mixing original and expansion weights.

Our documented semantics (shared verbatim by the Spark path and the
oracle, so expansion is rank-identity-testable):

1. initial retrieval: exact BM25 top-fbDocs (bit-identical on both paths);
2. candidate concepts: every term of a feedback doc, weighted by
   relevance-model mass  w(t) = Σ_{d in fb} tf(t,d) / dl(d)
   (float64, summed over (term, docno)-sorted records);
3. keep top fbTerms by (w desc, term asc), L1-normalize;
4. expanded weighted query: original terms carry (1-alpha) * qtf / Σqtf,
   expansion terms alpha * w — scored with the weighted exact scorer.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F

from ivory_spark.functions.tokenizer import get_tokenizer
from ivory_spark.index.reader import Index, read_artifact


def rm_weights(records: list[tuple[str, int, int, int]], fb_terms: int) -> list[tuple[str, float]]:
    """records: (term, docno, tf, dl) over the feedback docs.
    Returns [(term, normalized_weight)] — deterministic."""
    acc: dict[str, float] = {}
    for term, _docno, tf, dl in sorted(records):
        if dl > 0:
            acc[term] = acc.get(term, 0.0) + (tf / dl)
    top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
    total = sum(w for _, w in top)
    if total <= 0:
        return []
    return [(t, w / total) for t, w in top]


def lce_weights(
    records: list[tuple[str, int, int, int, float]], fb_terms: int
) -> list[tuple[str, float]]:
    """Latent-concept-expansion weights (UnigramLatentConceptExpander.java:
    159-198): concept mass w(t) = Σ_{d in fb} exp(score(d) + f(t,d)) with
    the concept potential f = log MLE doc-language-model, so each
    feedback doc contributes exp(score(d)) · tf(t,d)/dl(d) — the
    score-weighted relevance model. records: (term, docno, tf, dl,
    doc_score float); float64 folds in (term, docno) order, same
    normalization as rm_weights.

    Scores are shifted by the per-query max before exponentiation (the
    standard log-sum-exp stabilization): L1 normalization makes the
    weights invariant to the shift, and exp stays finite for arbitrarily
    large BM25 feedback scores (raw exp overflows float64 above ~709).
    The DuckDB oracle applies the identical shift."""
    import math

    if not records:
        return []
    smax = max(float(r[4]) for r in records)
    acc: dict[str, float] = {}
    for term, _docno, tf, dl, s in sorted(records):
        if dl > 0:
            acc[term] = acc.get(term, 0.0) + math.exp(float(s) - smax) * (tf / dl)
    top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
    total = sum(w for _, w in top)
    if total <= 0:
        return []
    return [(t, w / total) for t, w in top]


def _mix(tokens: list[str], expansion: list[tuple[str, float]], alpha: float) -> list[tuple[str, float]]:
    counts = Counter(tokens)
    qtotal = sum(counts.values())
    mixed: dict[str, float] = {
        t: (1.0 - alpha) * (c / qtotal) for t, c in counts.items()
    }
    for t, w in expansion:
        mixed[t] = mixed.get(t, 0.0) + alpha * w
    return sorted(mixed.items())


def expand_queries(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    method: str = "rm",
    flow: str = "driver",
) -> list[dict]:
    """-> weighted queries [{'qid', 'terms': [(term, weight)]}].

    method: "rm" (relevance-model mass, MRFExpander default) or "lce"
    (latent concept expansion — feedback docs weighted by exp(doc score),
    UnigramLatentConceptExpander.java:159-198).

    flow: "driver" collects the feedback docs' term rows and computes
    weights locally (docno-isin filter -> parquet row-group pruning —
    right for interactive batch sizes); "joined" keeps the term mining
    distributed — tdf joins the (qid, docno, score) feedback frame and
    the SAME rm/lce fold runs per-qid in applyInPandas, so only the
    fb_terms weights per query reach the driver (the 10^5-query shape).
    Both flows sort records before folding -> bit-identical weights
    (tested)."""
    import os

    from ivory_spark.query.batch import bm25_topk_serve

    tokenize = get_tokenizer(index.properties.get("tokenizer", "code_v1")).tokenize_py
    initial = bm25_topk_serve(spark, index, queries, k=fb_docs, with_docid=False)
    if flow == "joined":
        return _expand_joined(
            spark, index, queries, initial, fb_terms, alpha, method, tokenize
        )
    if flow != "driver":
        raise ValueError(f"unknown flow {flow!r}; use 'driver' or 'joined'")
    fb: dict[str, list] = {}
    for r in initial.collect():
        fb.setdefault(r["qid"], []).append((r["docno"], float(r["score"])))
    all_docnos = sorted({d for ds in fb.values() for d, _ in ds})
    if not all_docnos:
        return [
            {"qid": q["qid"], "terms": _mix(tokenize(q["query"]), [], alpha)}
            for q in queries
        ]
    # mine only dictionary terms: the tdf artifact is pre-min_df/max_df
    # filter, and expansion candidates outside the dictionary can't be
    # retrieved — and would perturb the L1 normalization vs the oracle
    # (which mines the dictionary). left_semi keeps the scan one-pass;
    # tdf is range-clustered by docno at write, so the isin filter prunes
    # to the feedback docs' row groups.
    tdf = read_artifact(spark, os.path.join(index.root, "tdf"))
    rows = (
        tdf.filter(F.col("docno").isin([int(d) for d in all_docnos]))
        .join(F.broadcast(index.dictionary.select("term")), "term", "left_semi")
        .select("term", "docno", "tf", "dl")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["docno"], []).append((r["term"], r["docno"], r["tf"], r["dl"]))

    out = []
    for q in queries:
        if method == "lce":
            recs = [
                rec + (s,)
                for d, s in fb.get(q["qid"], [])
                for rec in by_doc.get(d, [])
            ]
            exp = lce_weights(recs, fb_terms)
        else:
            recs = [rec for d, _ in fb.get(q["qid"], []) for rec in by_doc.get(d, [])]
            exp = rm_weights(recs, fb_terms)
        out.append({"qid": q["qid"], "terms": _mix(tokenize(q["query"]), exp, alpha)})
    return out


def _expand_joined(
    spark, index, queries, initial, fb_terms, alpha, method, tokenize
) -> list[dict]:
    """Distributed expansion-weight mining (see expand_queries flow=
    'joined'): tdf x feedback join, per-qid fold in applyInPandas,
    driver sees only (qid, term, weight) x fb_terms rows."""
    import os

    import pandas as pd

    fbdf = initial.select("qid", "docno", F.col("score").cast("double").alias("score"))
    tdf = read_artifact(spark, os.path.join(index.root, "tdf"))
    rows_df = (
        tdf.join(F.broadcast(fbdf), "docno")
        .join(F.broadcast(index.dictionary.select("term")), "term", "left_semi")
        .select("qid", "term", "docno", "tf", "dl", "score")
    )
    use_lce = method == "lce"

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if use_lce:
            recs = list(
                zip(pdf["term"], pdf["docno"], pdf["tf"], pdf["dl"], pdf["score"])
            )
            exp = lce_weights(recs, fb_terms)
        else:
            recs = list(zip(pdf["term"], pdf["docno"], pdf["tf"], pdf["dl"]))
            exp = rm_weights(recs, fb_terms)
        return pd.DataFrame(
            {"qid": key[0], "term": [t for t, _ in exp], "w": [w for _, w in exp]}
        )

    wrows = rows_df.groupBy("qid").applyInPandas(
        kern, schema="qid string, term string, w double"
    ).collect()
    exp_by_qid: dict[str, list] = {}
    for r in wrows:
        exp_by_qid.setdefault(r["qid"], []).append((r["term"], r["w"]))
    return [
        {
            "qid": q["qid"],
            "terms": _mix(tokenize(q["query"]), exp_by_qid.get(q["qid"], []), alpha),
        }
        for q in queries
    ]


def oracle_expand_queries(
    oracle_index, queries: list[dict], fb_docs: int = 10, fb_terms: int = 10,
    alpha: float = 0.5, method: str = "rm",
) -> list[dict]:
    """Identical semantics over the numpy oracle index."""
    from ivory_spark.oracle import oracle_topk

    oi = oracle_index
    tokenize = get_tokenizer(oi.tokenizer).tokenize_py
    initial = oracle_topk(oi, queries, k=fb_docs)
    out = []
    for q in queries:
        fb_rows = initial.get(q["qid"], [])
        recs = []
        for term, posmap in oi.positions.items():
            for r in fb_rows:
                d = r["docno"]
                if d in posmap:
                    rec = (term, d, len(posmap[d]), oi.doclens[d])
                    if method == "lce":
                        rec = rec + (float(r["score"]),)
                    recs.append(rec)
        exp = (
            lce_weights(recs, fb_terms) if method == "lce" else rm_weights(recs, fb_terms)
        )
        out.append({"qid": q["qid"], "terms": _mix(tokenize(q["query"]), exp, alpha)})
    return out


# ---------------------------------------------------------------------------
# N-gram latent concept expansion (NGramLatentConceptExpander analogue,
# smrf/model/expander/NGramLatentConceptExpander.java): mine the top
# bigram concepts from the feedback docs' positional vectors, weight by
# exp(doc score) * adjacency frequency (the same LCE mass as
# lce_weights), and inject them into the MRF as weighted #od[1] cliques —
# mrf_topk's extra_cliques hook scores them next to the query cliques.
# ---------------------------------------------------------------------------


def bigram_lce_weights(
    records: list[tuple[str, str, int, int, float]], fb_concepts: int
) -> list[tuple[tuple[str, str], float]]:
    """records: (term_a, term_b, count, dl, doc_score) adjacency counts
    per feedback doc. w(b) = Σ_d exp(score_d) * count/dl — float64 folds
    in sorted record order, L1-normalized over the kept concepts (scores
    shifted by the per-query max before exp, as in lce_weights)."""
    import math

    if not records:
        return []
    smax = max(float(r[4]) for r in records)
    acc: dict[tuple[str, str], float] = {}
    for ta, tb, cnt, dl, s in sorted(records):
        if dl > 0:
            key = (ta, tb)
            acc[key] = acc.get(key, 0.0) + math.exp(float(s) - smax) * (cnt / dl)
    top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_concepts]
    total = sum(w for _, w in top)
    if total <= 0:
        return []
    return [(b, w / total) for b, w in top]


def _doc_bigram_counts(term_pos: dict[str, "list[int]"]) -> dict[tuple[str, str], int]:
    """Adjacent-pair counts from a doc's term -> positions map."""
    inv: dict[int, str] = {}
    for t, ps in term_pos.items():
        for p in ps:
            inv[int(p)] = t
    counts: dict[tuple[str, str], int] = {}
    for p in sorted(inv):
        if p + 1 in inv:
            key = (inv[p], inv[p + 1])
            counts[key] = counts.get(key, 0) + 1
    return counts


def mine_bigram_concepts(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    fb_docs: int = 5,
    fb_concepts: int = 5,
) -> dict[str, list[tuple[tuple[str, str], float]]]:
    """qid -> [(bigram, weight)] mined from BM25 top-fb_docs feedback
    docs' positional term vectors (requires a positional index; the tdf
    read prunes to the feedback docnos via range clustering)."""
    import os

    from ivory_spark.query.batch import bm25_topk_serve

    if not index.properties.get("positional"):
        raise ValueError("bigram concept mining requires a positional index")
    initial = bm25_topk_serve(spark, index, queries, k=fb_docs, with_docid=False)
    fb: dict[str, list] = {}
    for r in initial.collect():
        fb.setdefault(r["qid"], []).append((r["docno"], float(r["score"])))
    all_docnos = sorted({d for ds in fb.values() for d, _ in ds})
    if not all_docnos:
        return {q["qid"]: [] for q in queries}
    tdf = read_artifact(spark, os.path.join(index.root, "tdf"))
    rows = (
        tdf.filter(F.col("docno").isin([int(d) for d in all_docnos]))
        .join(F.broadcast(index.dictionary.select("term")), "term", "left_semi")
        .select("term", "docno", "positions", "dl")
        .collect()
    )
    by_doc: dict[int, dict[str, list]] = {}
    dls: dict[int, int] = {}
    for r in rows:
        by_doc.setdefault(r["docno"], {})[r["term"]] = list(r["positions"])
        dls[r["docno"]] = r["dl"]
    out = {}
    for q in queries:
        recs = []
        for d, s in fb.get(q["qid"], []):
            for (ta, tb), cnt in _doc_bigram_counts(by_doc.get(d, {})).items():
                recs.append((ta, tb, cnt, dls.get(d, 0), s))
        out[q["qid"]] = bigram_lce_weights(recs, fb_concepts)
    return out


def oracle_mine_bigram_concepts(
    oracle_index, queries: list[dict], fb_docs: int = 5, fb_concepts: int = 5
) -> dict[str, list[tuple[tuple[str, str], float]]]:
    """Identical semantics over the numpy oracle index."""
    from ivory_spark.oracle import oracle_topk

    oi = oracle_index
    initial = oracle_topk(oi, queries, k=fb_docs)
    out = {}
    for q in queries:
        recs = []
        for r in initial.get(q["qid"], []):
            d = r["docno"]
            term_pos = {
                t: list(posmap[d]) for t, posmap in oi.positions.items() if d in posmap
            }
            for (ta, tb), cnt in _doc_bigram_counts(term_pos).items():
                recs.append((ta, tb, cnt, oi.doclens[d], float(r["score"])))
        out[q["qid"]] = bigram_lce_weights(recs, fb_concepts)
    return out


def concept_cliques(
    concepts: dict[str, list[tuple[tuple[str, str], float]]],
    alpha: float = 0.3,
    scorer: str = "bm25",
    params: dict | None = None,
) -> dict[str, list[dict]]:
    """Mined bigrams -> weighted #od[1] clique dicts for
    mrf_topk(extra_cliques=...)."""
    out = {}
    for qid, items in concepts.items():
        out[qid] = [
            {"kind": "od", "terms": (ta, tb), "weight": alpha * w,
             "window": 1, "scorer": scorer, "params": params or {}}
            for (ta, tb), w in items
        ]
    return out
