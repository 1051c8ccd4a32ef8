"""Exact BM25 top-k retrieval — the declarative DataFrame path.

The analogue of Ivory's doc-at-a-time ranker
(ivory/smrf/retrieval/MRFDocumentRanker.java:113-184) re-expressed as a
relational plan: candidate postings (Parquet termid pushdown) → decode →
broadcast-join query terms → float32 per-term contributions → canonical
termid-ordered float32 fold per (qid, docno) → window top-k with Ivory's
tie-break (score desc, docno desc;
ivory/smrf/retrieval/Accumulator.java:38-53).

This path is rank- and score-bit-identical to the numpy oracle and to the
WAND kernel (tests/test_rank_identity.py); it is the correctness anchor,
not the throughput path.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ivory_spark.functions.scoring import bm25_idf, bm25_tf_part, group_sum_f32
from ivory_spark.index import codec
from ivory_spark.index.reader import Index, pinned_rows
from ivory_spark.session import local_frame


def resolve_terms(index: Index, terms: set[str]) -> dict[str, tuple[int, int, int]]:
    """{term: (termid, df, cf)} for the in-dictionary terms of `terms`.
    A per-Index memo holds every term resolved so far, hits and misses
    (OOV) alike, so a batch reads the dictionary files only for terms no
    earlier batch asked for: the in-process form of Ivory's resident
    dictionary (RetrievalEnvironment.java:66-67). It is query-term-sized,
    never vocabulary-sized, and dies with the Index object, so a
    reopened (e.g. appended) index starts clean."""
    cache = getattr(index, "_term_cache", None)
    if cache is None:
        cache = {}
        object.__setattr__(index, "_term_cache", cache)
    missing = sorted(t for t in terms if t not in cache)
    if missing:
        found = {
            t: (tid, df, cf)
            for t, tid, df, cf in pinned_rows(index.dictionary, "term", missing, ["termid", "df", "cf"])
        }
        for t in missing:
            cache[t] = found.get(t)  # None = OOV, cached too
    return {t: cache[t] for t in terms if cache[t] is not None}


def query_term_rows(
    index: Index, queries: list[dict]
) -> tuple[list[tuple], list[int]]:
    """Driver-side query-term resolution: no Spark job. The terms no
    earlier batch on this Index asked for are read from the dictionary
    files the Index pinned at open (reader.pinned_rows), the analogue of
    Ivory keeping the dictionary in RAM (RetrievalEnvironment.java:66-67);
    the rest come from the Index's memo (resolve_terms).
    Returns ([(qid, termid, qtf, df, cf), ...], sorted unique termids).

    Query strings are tokenized with the *same* tokenizer the index was
    built with (index.properties['tokenizer'];
    RetrievalEnvironment.java:136-152,403-405); duplicate query tokens
    fold into a qtf weight (TermCliqueSet.java:62-79 — duplicate cliques
    multiply the term's contribution).

    cf is carried for the language-model scorers (Dirichlet/JM
    background probabilities)."""
    from ivory_spark.functions.tokenizer import get_tokenizer

    tok = get_tokenizer(index.properties.get("tokenizer", "code_v1")).tokenize_py
    per_q = []
    terms = set()
    for q in queries:
        counts = sorted(Counter(tok(q["query"])).items())
        per_q.append((q["qid"], counts))
        terms.update(t for t, _ in counts)
    if not terms:
        return [], []
    lookup = resolve_terms(index, terms)
    rows = []
    termids = set()
    for qid, counts in per_q:
        for term, qtf in counts:
            meta = lookup.get(term)
            if meta is None:
                continue  # OOV
            rows.append((qid, int(meta[0]), int(qtf), int(meta[1]), int(meta[2])))
            termids.add(int(meta[0]))
    return rows, sorted(termids)


def query_term_table(
    spark: SparkSession, index: Index, queries: list[dict]
) -> DataFrame:
    """(qid, termid, qtf, df, cf) for all in-dictionary query terms."""
    rows, _ = query_term_rows(index, queries)
    return local_frame(spark, rows, "qid string, termid long, qtf int, df int, cf long")


def candidate_postings(index: Index, termids: list[int]) -> DataFrame:
    """Postings runs for the given termids — a literal IN filter so the
    Parquet scan prunes row groups by termid min/max (the columnar
    replacement for IntPostingsForwardIndex byte-offset seeks)."""
    return index.postings.filter(F.col("termid").isin([int(t) for t in termids]))


def _decode_runs(runs: DataFrame) -> DataFrame:
    """blob rows -> (termid, docno, tf, dl) posting rows, one frame
    decode and one pandas frame per Arrow batch."""

    def gen(it):
        for pdf in it:
            docnos, tfs, dls, indptr = codec.decode_frame(pdf["blob"].tolist())
            yield pd.DataFrame(
                {
                    "termid": np.repeat(pdf["termid"].to_numpy(np.int64), np.diff(indptr)),
                    "docno": docnos.astype(np.int64),
                    "tf": tfs,
                    "dl": dls,
                }
            )

    return runs.select("termid", "blob").mapInPandas(
        gen, schema="termid long, docno long, tf int, dl int"
    )


def weighted_query_rows(
    index: Index, wqueries: list[dict]
) -> tuple[list[tuple], list[int]]:
    """([(qid, termid, weight, df), ...], sorted unique termids) for the
    in-dictionary terms of weighted queries [{'qid', 'terms': [(term,
    weight), ...]}], resolved as query_term_rows resolves terms (no Spark
    job) — the #weight/#combine structured-query surface
    (ivory/sqe/retrieval/StructuredQuery.java,
    PostingsReaderWrapper.java:47-190: weights scale each term's score)."""
    terms = {term for q in wqueries for term, _ in q["terms"]}
    lookup = resolve_terms(index, terms)
    rows = [
        (q["qid"], int(lookup[term][0]), float(w), int(lookup[term][1]))
        for q in wqueries
        for term, w in sorted(q["terms"])
        if term in lookup
    ]
    return rows, sorted({r[1] for r in rows})


def bm25_topk(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    k: int = 10,
    with_docid: bool = True,
    weighted: bool = False,
    priors: DataFrame | None = None,
    prior_weight: float = 1.0,
    params: dict | None = None,
) -> DataFrame:
    """Exact BM25 top-k for a query batch -> (qid, rank, docno[, docid], score).

    weighted=True: `queries` are weighted queries (see weighted_query_rows).
    priors: optional (docno, prior float) DataFrame added per doc as
    score += prior_weight * prior — Ivory's additive query-independent
    document potential (smrf/model/potential/DocumentPotential.java:1-109,
    docscores loaded at BatchQueryRunner.java:93-105).
    params: optional per-run {'k1','b','idf'} overrides (the model-XML
    surface, BM25ScoringFunction.java:30-52), read as
    LocalSearcher.search reads them; the WAND path has none, because
    its stored block-max bounds are k1/b-specific. run_batch runs here
    only when a batch's serve-kernel workers would exceed the memory
    budget (batch.bm25_topk_serve)."""
    props = index.properties
    n_docs, avgdl = props["n_docs"], props["avgdl"]
    p = params or {}
    k1 = p.get("k1", props["k1"])
    b = p.get("b", props["b"])
    idf_mode = p.get("idf", props["idf_mode"])

    if weighted:
        rows, termids = weighted_query_rows(index, queries)
        qt = local_frame(spark, rows, "qid string, termid long, qtf float, df int")
    else:
        rows, termids = query_term_rows(index, queries)
        qt = local_frame(
            spark, rows, "qid string, termid long, qtf int, df int, cf long"
        ).drop("cf")
    if not termids:
        schema = "qid string, rank int, docno long, score float"
        if with_docid:
            schema = "qid string, rank int, docno long, docid string, score float"
        return local_frame(spark, [], schema)

    postings = _decode_runs(candidate_postings(index, termids))
    cand = postings.join(F.broadcast(qt), "termid")

    @F.pandas_udf("float")
    def contrib_udf(tf: pd.Series, dl: pd.Series, df: pd.Series, qtf: pd.Series) -> pd.Series:
        idf = bm25_idf(n_docs, df.to_numpy(), mode=idf_mode)
        base = idf * bm25_tf_part(tf.to_numpy(), dl.to_numpy(), avgdl, k1, b)
        return pd.Series(qtf.to_numpy().astype(np.float32) * base)

    cand = cand.withColumn("contrib", contrib_udf("tf", "dl", "df", "qtf"))
    scored = _fold_scores(cand)

    if priors is not None:
        pw = np.float32(prior_weight)

        @F.pandas_udf("float")
        def add_prior(score: pd.Series, prior: pd.Series) -> pd.Series:
            s = score.to_numpy(dtype=np.float32)
            p = prior.fillna(0.0).to_numpy().astype(np.float32)
            return pd.Series(s + pw * p)

        scored = (
            scored.join(priors.select("docno", "prior"), "docno", "left")
            .withColumn("score", add_prior("score", "prior"))
            .drop("prior")
        )

    return _rank_topk(index, scored, k, with_docid)


_FOLD_SHARDS = 64


def _fold_scores(cand: DataFrame) -> DataFrame:
    """(qid, docno, score): canonical termid-ordered float32 fold of the
    per-term `contrib` column — the single accumulation rule every scorer
    path shares (see functions/scoring.py module docstring).

    Executed as group_sum_f32 over (qid, docno-hash-shard) groups: the
    whole shard folds in one vectorized lexsort+reduceat call instead of
    a Python loop per (qid, docno) (VERDICT r01), and sharding by docno
    hash keeps any one query's candidate set distributed while every
    docno's contributions stay co-grouped (the fold is per-docno, so any
    docno-complete partitioning is score-preserving)."""

    def fold(key, pdf: pd.DataFrame) -> pd.DataFrame:
        d, s = group_sum_f32(
            pdf["docno"].to_numpy(), pdf["termid"].to_numpy(), pdf["contrib"].to_numpy()
        )
        return pd.DataFrame({"qid": np.repeat(key[0], len(d)), "docno": d, "score": s})

    # shard count follows session parallelism (capped): enough groups to
    # spread one query's candidates across the executors. grouped_apply
    # (one Python dispatch per partition, gmap.py) replaces
    # groupBy().applyInPandas so |queries| x shards tiny groups don't pay
    # the per-group Arrow round-trip tax.
    from ivory_spark.functions.gmap import grouped_apply

    try:
        sess_par = int(cand.sparkSession.conf.get("spark.sql.shuffle.partitions", "64"))
    except ValueError:  # e.g. "auto" under AQE-style configs
        sess_par = _FOLD_SHARDS
    n_shards = min(_FOLD_SHARDS, max(1, sess_par))
    return grouped_apply(
        cand.select("qid", "docno", "termid", "contrib").withColumn(
            "_shard", F.pmod(F.col("docno"), F.lit(n_shards))
        ),
        ["qid", "_shard"],
        fold,
        schema="qid string, docno long, score float",
    )


def _rank_topk(index: Index, scored: DataFrame, k: int, with_docid: bool) -> DataFrame:
    """Window top-k with Ivory's tie-break (score desc, docno desc)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.desc("docno"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if with_docid:
        # q*k rows behind a window have no size estimate — broadcast the
        # tiny side so the docmap join never goes sort-merge (guide §3.1)
        topk = F.broadcast(topk).join(index.docid_expr(), "docno")
    cols = ["qid", "rank", "docno"] + (["docid"] if with_docid else []) + ["score"]
    return topk.select(*cols).orderBy("qid", "rank")
