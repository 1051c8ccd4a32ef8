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
from ivory_spark.index.reader import Index


def query_term_rows(
    index: Index, queries: list[dict]
) -> tuple[list[tuple], list[int]]:
    """Driver-side query-term resolution: one dictionary-lookup job per
    BATCH (not per query, not per term — the analogue of Ivory keeping
    the dictionary in RAM, RetrievalEnvironment.java:66-67).
    Returns ([(qid, termid, qtf, df), ...], sorted unique termids).

    Query strings are tokenized with the *same* tokenizer the index was
    built with (index.properties['tokenizer'];
    RetrievalEnvironment.java:136-152,403-405); duplicate query tokens
    fold into a qtf weight (TermCliqueSet.java:62-79 — duplicate cliques
    multiply the term's contribution).

    Rows are (qid, termid, qtf, df, cf) — cf is carried for the
    language-model scorers (Dirichlet/JM background probabilities)."""
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
    # per-Index memo of resolved terms (hits AND misses): repeat queries
    # skip the dictionary-scan job entirely — the in-process form of
    # Ivory's resident dictionary (RetrievalEnvironment.java:66-67).
    # Query-term-sized, never vocabulary-sized; dies with the Index
    # object, so a reopened (e.g. compacted) index starts clean.
    cache = getattr(index, "_term_cache", None)
    if cache is None:
        cache = {}
        object.__setattr__(index, "_term_cache", cache)
    missing = sorted(t for t in terms if t not in cache)
    if missing:
        found = {
            r["term"]: (r["termid"], r["df"], r["cf"])
            for r in index.dictionary.filter(F.col("term").isin(missing))
            .select("term", "termid", "df", "cf")
            .collect()
        }
        for t in missing:
            cache[t] = found.get(t)  # None = OOV, cached too
    lookup = {t: cache[t] for t in terms if cache[t] is not None}
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
    return spark.createDataFrame(
        rows, "qid string, termid long, qtf int, df int, cf long"
    )


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


def weighted_query_table(
    spark: SparkSession, index: Index, wqueries: list[dict]
) -> DataFrame:
    """(qid, termid, qtf(float), df) from weighted queries
    [{'qid', 'terms': [(term, weight), ...]}] — the #weight/#combine
    structured-query surface (ivory/sqe/retrieval/StructuredQuery.java,
    PostingsReaderWrapper.java:47-190: weights scale each term's score)."""
    rows = []
    terms = set()
    for q in wqueries:
        for term, w in sorted(q["terms"]):
            rows.append((q["qid"], term, float(w)))
            terms.add(term)
    if not rows:
        return spark.createDataFrame([], "qid string, termid long, qtf float, df int")
    qt = spark.createDataFrame(rows, "qid string, term string, qtf float")
    dict_rows = index.dictionary.filter(F.col("term").isin(sorted(terms))).select(
        "term", "termid", "df"
    )
    return qt.join(F.broadcast(dict_rows), "term").select("qid", "termid", "qtf", "df")


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

    weighted=True: `queries` are weighted queries (see weighted_query_table).
    priors: optional (docno, prior float) DataFrame added per doc as
    score += prior_weight * prior — Ivory's additive query-independent
    document potential (smrf/model/potential/DocumentPotential.java:1-109,
    docscores loaded at BatchQueryRunner.java:93-105).
    params: optional per-run {'k1','b','idf'} overrides (the model-XML
    surface, BM25ScoringFunction.java:30-52) — exact path only; the
    stored block-max bounds are k1/b-specific, so run_batch falls back
    here from WAND when a model overrides them."""
    props = index.properties
    n_docs, avgdl = props["n_docs"], props["avgdl"]
    p = params or {}
    k1 = p.get("k1", props["k1"])
    b = p.get("b", props["b"])
    idf_mode = p.get("idf", props["idf_mode"])

    if weighted:
        qt = weighted_query_table(spark, index, queries)
        termids = [r["termid"] for r in qt.select("termid").distinct().collect()]
    else:
        rows, termids = query_term_rows(index, queries)
        qt = spark.createDataFrame(
            rows, "qid string, termid long, qtf int, df int, cf long"
        ).drop("cf")
    if not termids:
        schema = "qid string, rank int, docno long, score float"
        if with_docid:
            schema = "qid string, rank int, docno long, docid string, score float"
        return spark.createDataFrame([], schema)

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


def scored_topk(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    scorer: str = "dirichlet",
    params: dict | None = None,
    k: int = 10,
    with_docid: bool = True,
    lm_prune: bool = True,
) -> DataFrame:
    """Engine-native bag-of-words retrieval for the non-BM25 scoring
    functions, over the same postings-blob index as the BM25 paths.

    Semantics mirror the reference's scoring-function family
    (ivory/smrf/model/score/DirichletScoringFunction.java:30-66 µ=2500,
    JelinekMercerScoringFunction.java λ=0.5, TFIDFScoringFunction.java,
    F2EXPScoringFunction.java) run doc-at-a-time over the candidate set
    (docs matching >= 1 query term, MRFDocumentRanker.java:113-184):

    - language-model scorers (dirichlet, jm) score every query term for
      every candidate — an absent term contributes its nonzero background
      (tf=0 smoothing), which is doclen-dependent and rank-relevant;
    - tf-proportional scorers (tfidf, f2exp) score only matching terms
      (their tf=0 contribution is exactly zero).

    Accumulation is the canonical termid-ordered float32 fold, so scores
    are bit-identical to the numpy oracle and reproducible by the
    float32-emulating DuckDB gate oracles. Dirichlet/JM scores are
    negative, so classic MaxScore/WAND bounds don't apply; instead
    (lm_prune=True) a matrix-free double-precision prescore — exact via
    the separable background sum — selects the per-query top-k plus a
    margin dominating the float32 fold error, and only those survivors
    get the full query-term matrix + canonical fold. Output is unchanged
    (gate-verified); the candidates x terms blowup is gone.
    """
    from ivory_spark.functions.scoring import (
        dirichlet_score,
        f2exp_score,
        jelinek_mercer_score,
        tfidf_score,
    )

    if scorer == "bm25":
        return bm25_topk(spark, index, queries, k=k, with_docid=with_docid)
    params = params or {}
    props = index.properties
    n_docs, avgdl, clen = props["n_docs"], props["avgdl"], props["collection_length"]

    rows, termids = query_term_rows(index, queries)
    qt = spark.createDataFrame(rows, "qid string, termid long, qtf int, df int, cf long")
    if not termids:
        schema = "qid string, rank int, docno long, score float"
        if with_docid:
            schema = "qid string, rank int, docno long, docid string, score float"
        return spark.createDataFrame([], schema)

    postings = _decode_runs(candidate_postings(index, termids))
    if scorer in ("dirichlet", "jm"):
        # the LM plan references `postings` twice (prescore `matched` join
        # + survivor re-join) — persist so the mapInPandas blob decode runs
        # once per partition, not twice. Lifetime: the previous call's
        # cache is released here (one-deep registry) rather than after the
        # caller's action, which this lazy API cannot observe.
        prev = getattr(scored_topk, "_cached_postings", None)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                # the previous DataFrame's session may be stopped (new
                # SparkSession in the same process) — nothing to release
                pass
        postings = postings.persist()
        scored_topk._cached_postings = postings
        matched = postings.join(F.broadcast(qt), "termid")
        if lm_prune and k > 0:
            # ---- matrix-free double prescore (the LM scale path) ----
            # The background sum over ABSENT terms is analytically
            # separable, so the exact score is computable from present
            # rows alone:
            #   dirichlet: score(d) = sum_present qtf*(ln(tf+bg_t)-ln(bg_t))
            #                         + C_q - Q*ln(dl+mu)
            #   jm:        score(d) = sum_present qtf*(ln((1-l)tf/dl+l*bg't)
            #                         - ln(l*bg't)) + C_q
            # (bg_t = mu*cf_t/clen, bg't = cf_t/clen, C_q/Q query consts).
            # Candidates x query-terms materialization then happens only
            # for the docs whose double prescore clears the per-qid k-th
            # best minus a margin that dominates the float32 fold error —
            # survivors are re-scored with the canonical float32 fold, so
            # output is unchanged (gate-verified). This removes the
            # |candidates| x |terms| blowup that made LM scoring the
            # most expensive engine path at scale.
            import math

            mu = (params or {}).get("mu", 2500.0)
            lam = (params or {}).get("lambda", 0.5)
            qconst: dict[str, tuple[float, float]] = {}
            for qid, termid, qtf, df, cf in rows:
                bg = (mu * cf / clen) if scorer == "dirichlet" else (lam * cf / clen)
                c, qsum = qconst.get(qid, (0.0, 0.0))
                qconst[qid] = (c + qtf * math.log(bg), qsum + qtf)
            qc = spark.createDataFrame(
                [(qid, c, qsum) for qid, (c, qsum) in qconst.items()],
                "qid string, cq double, qsum double",
            )
            if scorer == "dirichlet":
                bg_e = F.lit(mu) * F.col("cf").cast("double") / F.lit(float(clen))
                delta = F.col("qtf").cast("double") * (
                    F.log(F.col("tf").cast("double") + bg_e) - F.log(bg_e)
                )
            else:
                bg_e = F.lit(lam) * F.col("cf").cast("double") / F.lit(float(clen))
                delta = F.col("qtf").cast("double") * (
                    F.log(
                        F.lit(1.0 - lam) * F.col("tf").cast("double")
                        / F.greatest(F.col("dl"), F.lit(1)).cast("double")
                        + bg_e
                    )
                    - F.log(bg_e)
                )
            pre = (
                matched.withColumn("_delta", delta)
                .groupBy("qid", "docno")
                .agg(F.sum("_delta").alias("pd"), F.max("dl").alias("dl"))
                .join(F.broadcast(qc), "qid")
            )
            if scorer == "dirichlet":
                score_dbl = (
                    F.col("pd") + F.col("cq")
                    - F.col("qsum") * F.log(F.col("dl").cast("double") + F.lit(mu))
                )
            else:
                score_dbl = F.col("pd") + F.col("cq")
            pre = pre.withColumn("_sd", score_dbl)
            w = Window.partitionBy("qid").orderBy(F.desc("_sd"))
            cutoff = (
                pre.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= k)
                .groupBy("qid")
                .agg(F.min("_sd").alias("_cut"))
            )
            # margin >> float32 fold error (~n_terms * ulp(|score|))
            cands = (
                pre.join(F.broadcast(cutoff), "qid")
                .filter(
                    F.col("_sd")
                    >= F.col("_cut") - (F.lit(1e-3) * (F.abs(F.col("_cut")) + F.lit(1.0)))
                )
                .select("qid", "docno")
            )
        else:
            cands = matched.select("qid", "docno").distinct()
        cand = (
            cands.join(F.broadcast(qt), "qid")
            .join(postings.select("termid", "docno", "tf"), ["termid", "docno"], "left")
            .fillna({"tf": 0})
            .join(index.doclens.withColumnRenamed("doclen", "dl"), "docno")
        )
        if scorer == "dirichlet":
            mu = params.get("mu", 2500.0)

            @F.pandas_udf("float")
            def contrib_udf(tf: pd.Series, dl: pd.Series, cf: pd.Series, qtf: pd.Series) -> pd.Series:
                base = dirichlet_score(tf.to_numpy(), dl.to_numpy(), cf.to_numpy(), clen, mu)
                return pd.Series(qtf.to_numpy().astype(np.float32) * base)

        else:
            lam = params.get("lambda", 0.5)

            @F.pandas_udf("float")
            def contrib_udf(tf: pd.Series, dl: pd.Series, cf: pd.Series, qtf: pd.Series) -> pd.Series:
                base = jelinek_mercer_score(tf.to_numpy(), dl.to_numpy(), cf.to_numpy(), clen, lam)
                return pd.Series(qtf.to_numpy().astype(np.float32) * base)

        cand = cand.withColumn("contrib", contrib_udf("tf", "dl", "cf", "qtf"))
    elif scorer in ("tfidf", "f2exp"):
        cand = postings.join(F.broadcast(qt), "termid")
        if scorer == "tfidf":

            @F.pandas_udf("float")
            def contrib_udf(tf: pd.Series, dl: pd.Series, df: pd.Series, qtf: pd.Series) -> pd.Series:
                base = tfidf_score(tf.to_numpy(), df.to_numpy(), n_docs)
                return pd.Series(qtf.to_numpy().astype(np.float32) * base)

        else:
            s = params.get("s", 0.5)
            k_exp = params.get("k", 1.0)

            @F.pandas_udf("float")
            def contrib_udf(tf: pd.Series, dl: pd.Series, df: pd.Series, qtf: pd.Series) -> pd.Series:
                base = f2exp_score(tf.to_numpy(), dl.to_numpy(), df.to_numpy(), n_docs, avgdl, s, k_exp)
                return pd.Series(qtf.to_numpy().astype(np.float32) * base)

        cand = cand.withColumn("contrib", contrib_udf("tf", "dl", "df", "qtf"))
    else:
        raise ValueError(f"unknown scorer: {scorer}")

    return _rank_topk(index, _fold_scores(cand), k, with_docid)


def release_caches() -> None:
    """Explicitly release the one-deep persisted-postings registry
    (scored_topk LM path). The lazy API keeps the last call's postings
    persisted because it cannot observe the caller's final action; call
    this when done querying to return the executor memory early instead
    of waiting for the next scored_topk call to rotate it out."""
    prev = getattr(scored_topk, "_cached_postings", None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session already stopped
        scored_topk._cached_postings = None
