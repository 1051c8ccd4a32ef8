"""Cascade ranking — staged retrieval with per-stage pruning.

Reference: ivory/cascade/retrieval/CascadeEval.java (multi-stage ranking
where each stage scores only the previous stage's survivors, trading
effectiveness for cost). Stage 0 is always the cheap bag-of-words BM25
pass, bm25_topk_wand, which runs the serve kernel (a LocalSearcher in
each Spark Python worker, batch.bm25_topk_serve): the block-max WAND
Spark plan it replaced was 4-6x slower at 2k and 394k docs, and the
WAND kernel itself costs about 20 ms a query in process against
0.07-0.27 ms for LocalSearcher.search. Every later stage is a dependence
model (SD/FD window potentials) over the survivors, each cutting to its
own k — the reference's staged-pruning shape (CascadeEval.java:1-896
applies a per-stage pruner then the next, costlier scorer).

Candidate flow between stages is a (qid, docno) DataFrame fed to
mrf_topk's candidates_df path: each query's survivors become one
allow-list, gathered and joined to its query row in the JVM, and the
next stage's serve kernel scores only those docs. Survivors NEVER pass
through the driver — a 10^5-query batch cascades fully distributed. Without
cost accounting the whole cascade is one lazy linear plan (a single
action computes each stage once); with costs= the per-stage survivor
frames are persisted and counted.

Every stage boundary is an exact top-k with the (score desc, docno
desc) tie-break, so the cascade is bit-exactly reproducible against
oracle_cascade_topk's composition.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ivory_spark.functions.scoring import f32_ordered_sum
from ivory_spark.index.reader import Index
from ivory_spark.query.mrf import MrfModel, mrf_topk, oracle_mrf_topk
from ivory_spark.query.wand import bm25_topk_wand


STAGE2_UNIT_COST = 20.0  # proximity scoring vs one BoW posting (CascadeEval-style unit)

# CascadeEval.defaultNumDocs (CascadeEval.java:123) — the "training mode"
# sentinel: when the cascade K equals it, short result lists are NOT
# padded back up to K after pruning.
DEFAULT_NUM_DOCS = 9_999_999

PRUNERS = ("score", "mean-max", "rank", "z-score")


def prune_retain_size(
    scores: np.ndarray, pruner: str, pruner_param: float, K: int,
) -> int:
    """How many leading docs a CascadeEval pruning function keeps.

    `scores` MUST already be sorted descending (the reference asserts
    "assuming mDocSet[] sorted by descending order of scores",
    CascadeEval.java:146). Float32 arithmetic throughout, reproducing
    ivory/cascade/retrieval/CascadeEval.java:148-227 exactly:

    - "score":    threshold = (max-min)*param + min; keep the leading run
                  with score >= threshold.
    - "mean-max": threshold = param*max + (1-param)*mean, where mean is
                  the sequential float32 sum over the desc-sorted scores
                  divided by float32(n).
    - "rank":     keep int((1.0-param)*n) (double arithmetic, truncating)
                  — param=0.3 drops the bottom 30%.
    - "z-score":  the reference computes z-scores and never uses them
                  (CascadeEval.java:192-209 sets no retainSize), so the
                  retain count falls through to the K floor below. We
                  reproduce that faithfully rather than "fixing" it.

    Post-pass (CascadeEval.java:214-227): a floor of K docs (unless the
    list is shorter; when K == DEFAULT_NUM_DOCS — training mode — short
    lists keep the pruned size), capped at the list length.
    """
    if pruner not in PRUNERS:
        raise ValueError(f"PruningFunction {pruner} is not supported")
    s = np.ascontiguousarray(scores, dtype=np.float32)
    n = len(s)
    if n == 0:
        return 0
    param32 = np.float32(pruner_param)
    retain = 0
    if pruner == "score":
        thr = (s[0] - s[-1]) * param32 + s[-1]
        below = np.nonzero(s < thr)[0]
        retain = int(below[0]) if below.size else n
    elif pruner == "mean-max":
        mean = f32_ordered_sum(s) / np.float32(n)
        thr = param32 * s[0] + (np.float32(1.0) - param32) * mean
        below = np.nonzero(s < thr)[0]
        retain = int(below[0]) if below.size else n
    elif pruner == "rank":
        retain = int((1.0 - float(pruner_param)) * float(n))
    # "z-score": retain stays 0 (see docstring)

    if retain < K:
        if n >= K:
            retain = K
        elif K != DEFAULT_NUM_DOCS:
            retain = n
    return min(retain, n)


def prune_survivors(
    df: DataFrame, pruner: str, pruner_param: float, K: int,
) -> DataFrame:
    """Distributed per-query prune: (qid, docno, score) -> the retained
    (qid, docno, score) rows per CascadeEval semantics. Groups are one
    ranked list each (<= stage1_k rows — query-count scale, never
    data scale), so applyInPandas group overhead is bounded by the query
    batch, not the corpus."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["score"].to_numpy(dtype=np.float32)
        d = pdf["docno"].to_numpy()
        order = np.lexsort((-d, -s.astype(np.float64)))  # score desc, docno desc
        retain = prune_retain_size(s[order], pruner, pruner_param, K)
        return pdf.iloc[order[:retain]]

    from ivory_spark.functions.gmap import grouped_apply

    return grouped_apply(
        df.select("qid", "docno", "score"), ["qid"],
        lambda key, pdf: kernel(pdf),
        schema="qid string, docno long, score float",
    )


def cascade_topk(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    stage1_k: int = 100,
    model: MrfModel | None = None,
    with_docid: bool = True,
    costs: dict | None = None,
    stages: list[dict] | None = None,
) -> DataFrame:
    """Staged cascade. Default = the canonical two-stage form (BM25 on
    the serve kernel keeps top stage1_k, the SD/FD model reranks only
    those). `stages` generalizes to N: a list of {"model": MrfModel, "k": int,
    "unit_cost": float (optional, default STAGE2_UNIT_COST)} applied in
    order after the BM25 pass, each restricted to the previous stage's
    survivors via the distributed candidates_df flow.

    A non-final stage may replace its fixed top-k cut with a CascadeEval
    pruning function: {"pruner": "score"|"mean-max"|"rank"|"z-score",
    "pruner_param": float, "K": int (floor, default = the final stage's
    k)}. The stage then scores ALL current candidates (its k is forced to
    stage1_k) and retains the prune_retain_size() prefix of the ranked
    list (float32 thresholds, CascadeEval.java:148-227). Pruners on the
    final stage are rejected — the reference prunes between stages; the
    final cut is always top mNumResults.

    Pass `costs={}` to receive CascadeEval-style accounting:

      {"stage1": {"k", "candidate_docs", "wall_sec"},
       "stage2": {"docs_scored", "unit_cost", "wall_sec"},   (last stage)
       "stages": [per-stage dicts in order],
       "total_cost_units", "flat_cost_units_ub", "cost_vs_flat"}
    

    Caller contract when `costs` is requested: the RETURNED frame is
    the final stage's scored frame, still persisted (the accounting
    already materialized it, and the caller's action should hit the
    cached k-rows/query result rather than re-run the cascade). Call
    .unpersist() on it when done — repeated cost-instrumented calls in
    a long session otherwise accumulate executor memory (ADVICE r05).
    """
    import time

    model = model or MrfModel()
    if stages is None:
        stages = [{"model": model, "k": model.k}]
    if not stages:
        raise ValueError("cascade needs at least one rerank stage")

    t0 = time.monotonic()
    # stage 1: BM25 top-stage1_k on the serve kernel (one mapInPandas over
    # query slices, no shuffle); the "wand_bm25" cost label keeps its name
    s1 = bm25_topk_wand(spark, index, queries, k=stage1_k, with_docid=False)
    surv = s1.select("qid", "docno")
    stage_costs = []
    cached = []
    if costs is not None:
        surv = surv.persist()
        cached.append(surv)
        n_s1 = surv.count()
        stage_costs.append(
            {"stage": 0, "kind": "wand_bm25", "k": stage1_k,
             "candidate_docs": n_s1,
             "wall_sec": round(time.monotonic() - t0, 3)}
        )

    final_k = stages[-1].get("k", stages[-1]["model"].k)
    out = None
    for i, st in enumerate(stages):
        is_last = i == len(stages) - 1
        pruner = st.get("pruner")
        if pruner is not None and is_last:
            raise ValueError(
                "pruning functions apply between stages; the final stage "
                "is always a top-k cut (CascadeEval mNumResults)"
            )
        # a pruner stage must rank ALL its candidates (stage1_k bounds the
        # candidate count — it only shrinks downstream), not a premature k
        stage_k = stage1_k if pruner else st.get("k", st["model"].k)
        st_model = dataclasses.replace(st["model"], k=stage_k)
        t0 = time.monotonic()
        out = mrf_topk(
            spark, index, queries, st_model,
            with_docid=with_docid and is_last,
            candidates_df=surv,
        )
        if pruner is not None:
            out = prune_survivors(
                out, pruner, float(st.get("pruner_param", 0.0)),
                int(st.get("K", final_k)),
            )
        if costs is not None:
            # materialize the stage output in place (persist + count — k
            # rows/query, never data-scale; no driver round-trip) so wall
            # time is attributable per stage
            out = out.persist()
            cached.append(out)
            n_out = out.count()
            docs_in = stage_costs[-1]["candidate_docs"] if stage_costs else 0
            unit = float(st.get("unit_cost", STAGE2_UNIT_COST))
            stage_costs.append(
                {"stage": i + 1, "kind": f"mrf_{st_model.dependence}",
                 "k": st_model.k, "docs_scored": docs_in,
                 "candidate_docs": n_out, "unit_cost": unit,
                 "wall_sec": round(time.monotonic() - t0, 3)}
            )
        if not is_last:
            surv = out.select("qid", "docno")

    if costs is not None:
        from ivory_spark.query.exact import query_term_rows

        total = stage_costs[0]["candidate_docs"] + sum(
            s["docs_scored"] * s["unit_cost"] for s in stage_costs[1:]
        )
        rows_qt, _ = query_term_rows(index, queries)
        flat_docs_ub = sum(r[3] for r in rows_qt)
        # flat baseline: the LAST (costliest) model over every matching
        # doc; per-query sum of term df is its cheaply-known upper bound
        flat_cost = max(flat_docs_ub, 1) * stage_costs[-1]["unit_cost"]
        costs.update(
            {
                "stage1": {
                    "k": stage1_k,
                    "candidate_docs": stage_costs[0]["candidate_docs"],
                    "wall_sec": stage_costs[0]["wall_sec"],
                },
                "stage2": {
                    "docs_scored": stage_costs[-1]["docs_scored"],
                    "unit_cost": stage_costs[-1]["unit_cost"],
                    "wall_sec": stage_costs[-1]["wall_sec"],
                },
                "stages": stage_costs,
                "total_cost_units": round(total, 1),
                "flat_cost_units_ub": round(flat_cost, 1),
                "cost_vs_flat": round(total / flat_cost, 4),
            }
        )
        # release intermediates; the FINAL stage stays persisted (it is
        # the returned frame — the caller's action should hit the cached
        # k-rows/query result, not re-run the cascade; unpersist() it when
        # done)
        for c in cached:
            if c is not out:
                try:
                    c.unpersist()
                except Exception:
                    pass
    return out


def oracle_cascade_topk(
    oracle_index, queries: list[dict], stage1_k: int = 100,
    model: MrfModel | None = None, stages: list[dict] | None = None,
) -> dict[str, list[dict]]:
    """Single-node composition golden: exact BM25 top-k (stage 1's rows),
    then each stage's oracle MRF restricted to the previous survivors.
    Pruner stages use the SAME prune_retain_size kernel as the
    distributed path (shared-kernel invariant) over the oracle's ranked
    list."""
    import numpy as np

    from ivory_spark.oracle import oracle_topk

    model = model or MrfModel()
    if stages is None:
        stages = [{"model": model, "k": model.k}]
    final_k = stages[-1].get("k", stages[-1]["model"].k)
    s1 = oracle_topk(oracle_index, queries, k=stage1_k)
    candidates = {qid: {r["docno"] for r in rows} for qid, rows in s1.items()}
    out = None
    for i, st in enumerate(stages):
        pruner = st.get("pruner")
        if pruner is not None and i == len(stages) - 1:
            raise ValueError("pruning functions apply between stages")
        stage_k = stage1_k if pruner else st.get("k", st["model"].k)
        st_model = dataclasses.replace(st["model"], k=stage_k)
        out = oracle_mrf_topk(oracle_index, queries, st_model, candidates=candidates)
        if pruner is not None:
            pruned: dict[str, list[dict]] = {}
            for qid, rows in out.items():
                scores = np.array([r["score"] for r in rows], dtype=np.float32)
                retain = prune_retain_size(
                    scores, pruner, float(st.get("pruner_param", 0.0)),
                    int(st.get("K", final_k)),
                )
                pruned[qid] = rows[:retain]
            out = pruned
        if i < len(stages) - 1:
            candidates = {qid: {r["docno"] for r in rows} for qid, rows in out.items()}
    return out
